"""Sources and sinks.

Reference parity:
- table scan (01_staging_layer.sql:44,106) -> ``spark.read.parquet``
- ``CREATE VIEW`` (01:23-25 etc.)          -> ``createOrReplaceTempView``
  (both are lazy named logical plans; README.md:116 "no materialization")
- CSV export (reference README.md:71-76)   -> ``write_csv``
Plus the sinks a 100 TB deployment actually wants: partitioned Parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_fingerprint(path: str) -> object:
    """Cheap fingerprint of a parquet file or part-file directory: the
    invalidation key of every derived artifact (artifacts.Store). A
    file fingerprints as (mtime_ns, size); a directory as one
    (name, mtime_ns, size) per entry, so an in-place rewrite of any part
    file changes it. A missing path fingerprints as None; the read
    itself fails loudly downstream."""
    try:
        if os.path.isdir(path):
            return tuple(
                (f, s.st_mtime_ns, s.st_size)
                for f in sorted(os.listdir(path))
                for s in (os.stat(os.path.join(path, f)),)
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Parquet so filter/column pushdown applies.

    events.ts is TIMESTAMP(NANOS) in parquet; Spark has no nanosecond
    timestamp type, so we read it as long (nanosAsLong) and convert to a
    microsecond timestamp here — integer ns-div-1000 truncation,
    bit-identical to DuckDB's ns->us cast. The conf is set at runtime so
    the read works in ANY session (the verification driver builds its own
    SparkSession without our session.get_spark defaults).

    The scan PLAN (never its results) is memoized in the session's
    artifact store under the table's fingerprint: it saves the
    driver-side footer read and file listing ``spark.read.parquet``
    repeats on every call (~0.1-0.15 s; a q9 construction issues seven),
    and an in-place rewrite replaces the entry."""
    from multi_report_etl_pipeline_spark.artifacts import (  # noqa: PLC0415
        session_store,
    )

    def scan():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df

    return session_store(spark).get(name, sf_dir, (name,), scan)


def fan_out(
    df: DataFrame,
    spark: SparkSession,
    target: int | None = None,
    cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Raise scan parallelism when the source has fewer splits than cores.

    Single-row-group parquet files (like the local test fixtures) give the
    scan one task, which serializes every downstream narrow op. When the
    consumer shuffles full rows anyway (window dedup), a repartition first
    costs one extra small shuffle and buys cores-wide parallelism for the
    expensive projections. On a real cluster the scan has >= target splits
    and this is a no-op, so it is safe at 100 TB.

    Pass ``cols`` (e.g. a join key) to hash-partition instead of the
    round-robin default: round-robin repartition LOCALLY SORTS each
    partition for deterministic retries (measured ~2x the exchange cost
    on narrow rows), which hash partitioning skips entirely.

    The probe uses ``df.inputFiles()`` — a metadata-only file-index call —
    instead of ``df.rdd.getNumPartitions()``, which would force a
    deserialization plan per query.
    """
    target = target or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < max(2, target // 2):
        if cols:
            return df.repartition(target, *cols)
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every base table as a temp view (lazy, like the reference's
    raw tables) so both the DataFrame API and ``spark.sql`` can reach them."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """CSV source with an EXPLICIT schema — the ingestion path of the
    reference's raw tables (its loaders run `.mode csv` / `.import`,
    README.md:71-76).

    Schema inference is deliberately not offered: at 100 TB an inference
    pass reads the data twice and silently changes types between drops.
    PERMISSIVE mode + an optional ``corrupt_record_col`` keeps bad lines
    (the reference's dirty-data reality) as quarantine rows instead of
    failing the load; pipe the non-null ones to a quality probe."""
    reader = (
        spark.read.option("header", header)
        .option("mode", "PERMISSIVE")
        .option("enforceSchema", "false")
    )
    if corrupt_record_col:
        schema = f"{schema}, {corrupt_record_col} string"
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    return reader.schema(schema).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema — the interchange format
    web-scale text corpora actually arrive in (one document object per
    line). Same posture as ``read_csv``: no inference (a 100 TB inference
    pass reads everything twice and can flip types between drops),
    PERMISSIVE mode, optional quarantine column for malformed lines so
    dirty data lands in a quality probe instead of failing the load."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if corrupt_record_col:
        schema = f"{schema}, {corrupt_record_col} string"
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    return reader.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink (one object per line, splittable, append-friendly —
    the standard handoff format to tokenizer/training jobs)."""
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV export sink (reference README.md:72-76 `.mode csv`).

    ``single_file`` reproduces the reference's one-file-per-report shape for
    small exports; at scale leave it False so each task writes its split.
    """
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Canonical large-scale sink: partitioned (and optionally bucketed)
    Parquet. Bucketing by join key (e.g. account_id) lets downstream joins
    skip the shuffle entirely — the Spark replacement for the reference's
    CREATE INDEX (01_staging_layer.sql:13-14)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketBy requires saveAsTable; pass table_name")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table_name)
        return
    writer.parquet(path)


def expectations(df: DataFrame, rules: dict[str, "F.Column"]) -> DataFrame:
    """Data-quality constraint validation (the dbt-tests / Deequ shape,
    generalizing the reference's ad-hoc quality probes into an
    operator): ``rules`` maps rule name -> boolean violation predicate;
    the result is ONE row per rule with its violation count and the
    scanned total — computed in a single partially-aggregated pass
    (every rule is a sum(CASE) over the same scan, no per-rule jobs).

    Scale: one scan however many rules; the exchange carries
    |rules| + 1 cells. Uniqueness-style rules need their own groupBy
    and are composed upstream (see orders_quality_checks)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(pred, 1).otherwise(0)).alias(f"_v_{name}")
            for name, pred in rules.items()
        ],
    )
    stack = ", ".join(
        f"'{name}', _v_{name}" for name in rules
    )
    return agg.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, violations)", "_n AS n_rows"
    )
