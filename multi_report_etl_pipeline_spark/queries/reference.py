"""Reference-surface queries (SURVEY.md §2.1-§2.8), oracle-checked.

Covers: scans, the domain staging tables, all five cleansing views
(projection / CASE normalization / date parsing / window dedup), the three
report compositions (left-join chains, existence flags, COALESCE
sentinels, report-level dedup), and the data-quality probe family
(02_reporting_layer.sql:14-27; README.md:120-136).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from multi_report_etl_pipeline_spark import artifacts, domain, oracle, reports, staging
from multi_report_etl_pipeline_spark.io import read_table
from multi_report_etl_pipeline_spark.queries import QuerySpec

# The materialized contact survivors: an artifact-store entry, absent
# (lazy staging) unless a caller opts in via materialize_staging().
_SURVIVORS = "staging_survivors"
_SURVIVOR_SOURCES = ("orders", "lineitem")


def materialize_staging(
    spark: SparkSession, sf_dir: str, n_splits: int | None = None
) -> None:
    """Materialize the four contact views' survivor rows and route
    subsequent build_staging() calls to them.

    The Spark analog of the reference's physical staging design
    (01_staging_layer.sql:13-14 materializes staging and indexes it),
    collapsed further: the four top-1-per-account views are computed in
    ONE ``min_by`` partial-aggregation pass over the lineitem⋈orders
    scan (staging.combined_contact_survivors) — each map partition
    reduces to <=1 row per account per view before the exchange, so the
    shuffle carries ~n_accounts rows instead of the whole fact table and
    there is no global sort and no wide intermediate write. Every clean
    view then becomes a struct-expansion over this tiny table.

    stg_accounts and stg_activities stay lazy: they are narrow maps over
    the raw scans and re-deriving them costs less than writing and
    reading them back. The materialization is a plain parquet path (no
    catalog), stored with its schema so reading it starts no job, in a
    scratch dir the artifact store owns: it is served
    while the orders/lineitem fingerprint matches (a call with a
    matching materialization does nothing), and deleted on a rewrite of
    either, by clear_materialized_staging or at exit."""
    import os

    from pyspark.sql import functions as F  # noqa: PLC0415

    from multi_report_etl_pipeline_spark.io import fan_out  # noqa: PLC0415

    if _survivors(sf_dir) is not None:
        return
    # a new materialization reroutes build_staging: clearing sf_dir first
    # retires the plans built on its lazy views (artifacts module docstring)
    artifacts.clear(_SURVIVORS, sf_dir)
    n_splits = n_splits or spark.sparkContext.defaultParallelism
    # project BOTH sides down before the exchange/broadcast explicitly:
    # Catalyst does not prune columns below a user repartition or a
    # forced broadcast hint, and shuffling the unused lineitem columns
    # (or broadcasting all of orders) was measured ~1s extra at sf0.1
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l_cols = [c for c in domain._ACTIVITY_SOURCE_COLS if c.startswith("l_")]
    # hash fan-out on the join key: the local fixtures have ~3 row groups,
    # which would serialize the md5/derive map work to 3 tasks otherwise
    lineitem = fan_out(
        read_table(spark, sf_dir, "lineitem").select(*l_cols),
        spark,
        n_splits,
        cols=("l_orderkey",),
    )
    sact = domain.stg_activities_df(
        lineitem, F.broadcast(orders), repartition_by_account=n_splits
    )

    def build(owned: str) -> tuple[str, StructType]:
        path = os.path.join(owned, "contact_survivors")
        survivors = staging.combined_contact_survivors(sact)
        survivors.write.parquet(path)
        return path, survivors.schema

    artifacts.get(
        _SURVIVORS,
        sf_dir,
        _SURVIVOR_SOURCES,
        build,
        scratch="multi_report_etl_pipeline_spark_staging_",
    )


def clear_materialized_staging(sf_dir: str | None = None) -> None:
    """Stop routing build_staging to the materialization of ``sf_dir``
    (every sf_dir when None) and delete its files."""
    artifacts.clear(_SURVIVORS, sf_dir)


def build_staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Raw scans -> domain staging tables -> the five clean views.

    Everything is lazy; calling this only builds logical plans and starts
    no Spark job. The contact views come in one of two forms of the same
    specs (staging.contact_view_specs). If materialize_staging() ran for
    this sf_dir and orders/lineitem are unchanged since, they are struct
    expansions of the materialized survivors, read with their known
    schema (the reference's CREATE TABLE + CREATE INDEX model). Otherwise
    they are the lazy window views (the reference's non-materialized
    views, README.md:116). A lookup never materializes: its build is a
    no-op, which also drops a stale entry.

    The views are built once per form and drop: a session-store entry
    keyed by ``sf_dir`` and the survivors path (None for the lazy form),
    so the report and probe builds of one drop compose on one dict.
    """
    survivors = _survivors(sf_dir)

    def build() -> dict[str, DataFrame]:
        orders = read_table(spark, sf_dir, "orders")
        stg_accounts = domain.stg_accounts_df(orders)
        lineitem = read_table(spark, sf_dir, "lineitem")
        stg_activities = domain.stg_activities_df(lineitem, orders)
        if survivors is not None:
            path, schema = survivors
            surv = spark.read.schema(schema).parquet(path)
            contacts = staging.clean_views_from_survivors(surv)
        else:
            contacts = staging.contact_views(stg_activities)
        return {
            "stg_accounts": stg_accounts,
            "stg_activities": stg_activities,
            "clean_accounts": staging.clean_accounts(stg_accounts),
            **contacts,
        }

    kind = ("staging", survivors and survivors[0])
    return dict(
        artifacts.session_store(spark).get(kind, sf_dir, _SURVIVOR_SOURCES, build)
    )


def _survivors(sf_dir: str) -> tuple[str, StructType] | None:
    """The materialized survivors' (path, schema) of ``sf_dir`` while its
    sources are unchanged, else None."""
    return artifacts.get(_SURVIVORS, sf_dir, _SURVIVOR_SOURCES, lambda: None)


def _view_query(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return build_staging(spark, sf_dir)[name]

    return run


def _report_mortgage(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = build_staging(spark, sf_dir)
    return reports.report_mortgage_portfolio(
        v["clean_accounts"], v["clean_contacts_primary"], v["clean_contacts_field"]
    )


def _report_restructuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = build_staging(spark, sf_dir)
    return reports.report_restructuring_pipeline(
        v["clean_accounts"],
        v["clean_contacts_primary"],
        v["clean_contacts_field"],
        v["clean_contacts_restructure"],
    )


def _report_promises(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = build_staging(spark, sf_dir)
    return reports.report_commercial_promises(
        v["clean_accounts"], v["clean_contacts_primary"], v["clean_contacts_promise"]
    )


def _quality_view_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 probes (02:14-27): row count + distinct-key count per view."""
    v = build_staging(spark, sf_dir)
    parts = [
        v[name].agg(
            F.lit(name).alias("view_name"),
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("account_id").alias("distinct_accounts"),
        )
        for name in (
            "clean_accounts",
            "clean_contacts_primary",
            "clean_contacts_field",
            "clean_contacts_promise",
            "clean_contacts_restructure",
        )
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _quality_duplicate_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 probe (README.md:126-130): accounts with >1 operation row."""
    v = build_staging(spark, sf_dir)
    return (
        v["clean_accounts"]
        .filter(F.col("account_id").isNotNull())
        .groupBy("account_id")
        .agg(F.count(F.lit(1)).alias("op_count"))
        .filter(F.col("op_count") > 1)
    )


def _quality_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-integrity probe (README.md:123-124)."""
    v = build_staging(spark, sf_dir)
    parts = [
        v[name]
        .filter(F.col("account_id").isNull())
        .agg(F.lit(name).alias("table_name"), F.count(F.lit(1)).alias("null_keys"))
        for name in ("stg_accounts", "stg_activities")
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _quality_date_parse_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-parse probe (README.md:132-136), made deterministic with
    ORDER BY before the LIMIT."""
    v = build_staging(spark, sf_dir)
    return (
        v["stg_activities"]
        .filter(
            staging.parse_ddmmyyyy("activity_date").isNull()
            & F.col("activity_date").isNotNull()
        )
        .select(
            "account_id",
            "activity_id",
            "row_fp",
            F.col("activity_date").alias("raw_activity_date"),
        )
        .orderBy(F.col("activity_id").asc(), F.col("row_fp").asc())
        .drop("row_fp")
        .limit(10)
    )


QUERIES: dict[str, QuerySpec] = {
    # domain adapter sanity: the two raw staging tables themselves
    "stg_accounts": QuerySpec(
        _view_query("stg_accounts"), oracle.with_prelude("SELECT * FROM stg_accounts")
    ),
    "stg_activities": QuerySpec(
        _view_query("stg_activities"), oracle.with_prelude("SELECT * FROM stg_activities")
    ),
    # staging layer (01_staging_layer.sql)
    "clean_accounts": QuerySpec(
        _view_query("clean_accounts"), oracle.view_sql("clean_accounts")
    ),
    "clean_contacts_primary": QuerySpec(
        _view_query("clean_contacts_primary"), oracle.view_sql("clean_contacts_primary")
    ),
    "clean_contacts_field": QuerySpec(
        _view_query("clean_contacts_field"), oracle.view_sql("clean_contacts_field")
    ),
    "clean_contacts_promise": QuerySpec(
        _view_query("clean_contacts_promise"), oracle.view_sql("clean_contacts_promise")
    ),
    "clean_contacts_restructure": QuerySpec(
        _view_query("clean_contacts_restructure"),
        oracle.view_sql("clean_contacts_restructure"),
    ),
    # reporting layer (02_reporting_layer.sql)
    "report_mortgage_portfolio": QuerySpec(_report_mortgage, oracle.report_mortgage_sql()),
    "report_restructuring_pipeline": QuerySpec(
        _report_restructuring, oracle.report_restructuring_sql()
    ),
    "report_commercial_promises": QuerySpec(_report_promises, oracle.report_promises_sql()),
    # quality probes
    "quality_view_counts": QuerySpec(_quality_view_counts, oracle.quality_view_counts_sql()),
    "quality_duplicate_operations": QuerySpec(
        _quality_duplicate_operations, oracle.quality_duplicate_operations_sql()
    ),
    "quality_null_keys": QuerySpec(_quality_null_keys, oracle.quality_null_keys_sql()),
    "quality_date_parse_failures": QuerySpec(
        _quality_date_parse_failures, oracle.quality_date_parse_failures_sql()
    ),
}
