"""Capture `explain("formatted")` output per query into plans/<round>/
<query>_<suffix>.txt — the judge-auditable before/after plan evidence
for an optimization round.

Usage (from the repo root of WHICHEVER checkout should produce the
plans — run it inside a worktree of the round-(N-1) snapshot to produce
the `_before` files for queries that existed then):

    python scripts/capture_plans.py --suffix after --outdir plans/r10 \
        tpch_q9_bucketed events_hourly_unique_users ...

Reference-surface queries are captured twice, on the lazy staging
views (suffix ``<suffix>_lazy``) and then on materialized staging
(``<suffix>_materialized``), since ``materialize_staging`` reroutes
their contact views; every other query is captured once.

Optional per-run Spark session confs, e.g. to capture a plan with
static broadcasts off:

    python scripts/capture_plans.py --suffix nobcast --outdir plans/r10 \
        --conf spark.sql.autoBroadcastJoinThreshold=-1 tpch_q3_shipping_priority
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from multi_report_etl_pipeline_spark.queries import all_queries, reference
    from multi_report_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    registry = all_queries()
    os.makedirs(args.outdir, exist_ok=True)

    def capture(names: list[str], suffix: str) -> None:
        for name in names:
            df = registry[name].fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            header = (
                f"# {name} — explain('formatted') at {SF_DIR}\n"
                f"# suffix: {suffix}; session confs: {args.conf or 'none'}\n\n"
            )
            out = os.path.join(args.outdir, f"{name}_{suffix}.txt")
            with open(out, "w") as f:
                f.write(header + buf.getvalue())
            print(f"wrote {out}")

    for name in args.queries:
        if name not in registry:
            print(f"SKIP (not in registry): {name}")
    names = [n for n in args.queries if n in registry]
    ref = [n for n in names if n in reference.QUERIES]
    capture([n for n in names if n not in reference.QUERIES], args.suffix)
    capture(ref, f"{args.suffix}_lazy")
    if ref:
        # the reports_daily path: contact views read the survivors
        reference.materialize_staging(spark, SF_DIR)
        capture(ref, f"{args.suffix}_materialized")
        reference.clear_materialized_staging(SF_DIR)
    spark.stop()


if __name__ == "__main__":
    main()
