"""Differential tests: every reference-surface query vs the DuckDB oracle
at sf0.001 (the driver repeats this at sf0.01), plus the reference's own
invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark import oracle
from multi_report_etl_pipeline_spark.queries.reference import QUERIES, build_staging
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    assert spec.oracle is not None, f"{name} must declare an oracle"
    df = spec.fn(spark, SF_DIR)
    assert_matches_oracle(df, duck, spec.oracle)


def test_clean_views_unique_per_account(spark):
    """Invariant (README.md:126-130): each contact view keeps <=1 row per
    account_id."""
    views = build_staging(spark, SF_DIR)
    for name in (
        "clean_contacts_primary",
        "clean_contacts_field",
        "clean_contacts_promise",
        "clean_contacts_restructure",
    ):
        dupes = (
            views[name]
            .groupBy("account_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dupes == 0, f"{name} has duplicate account_ids"


def test_reports_preserve_account_subset(spark):
    """Reports' accounts are a subset of filtered clean_accounts, and left
    joins never invent rows (README.md:20)."""
    views = build_staging(spark, SF_DIR)
    report = QUERIES["report_mortgage_portfolio"].fn(spark, SF_DIR)
    report_accounts = {r.account_id for r in report.select("account_id").collect()}
    base = (
        views["clean_accounts"]
        .filter(
            (F.col("product_type") == "MORTGAGE")
            & (F.col("business_division") == "RETAIL")
            & (F.col("containment_percentage") == 0)
        )
        .select("account_id")
        .distinct()
    )
    base_accounts = {r.account_id for r in base.collect()}
    assert report_accounts == base_accounts


def test_date_parsing_nulls_malformed(spark):
    """SQLite DATE() semantics: malformed DD/MM/YYYY -> NULL, valid parses."""
    views = build_staging(spark, SF_DIR)
    stg = views["stg_activities"]
    from multi_report_etl_pipeline_spark.staging import parse_ddmmyyyy

    parsed = stg.select(
        "activity_date", parse_ddmmyyyy("activity_date").alias("parsed")
    )
    bad = parsed.filter(F.col("activity_date").isin("31/02/2025", "GARBAGE"))
    assert bad.count() > 0, "fixture should contain malformed dates"
    assert bad.filter(F.col("parsed").isNotNull()).count() == 0
    good = parsed.filter(
        ~F.col("activity_date").isin("31/02/2025", "GARBAGE")
        & F.col("activity_date").isNotNull()
    )
    assert good.filter(F.col("parsed").isNull()).count() == 0


def test_materialized_staging_matches_lazy(spark):
    """The staging materialization (bench path / the reference's
    CREATE TABLE staging analog) must be result-identical to the lazy
    view path and must actually be read by downstream queries."""
    from multi_report_etl_pipeline_spark.queries import reference

    checked = (
        "clean_contacts_primary",
        "clean_contacts_field",
        "clean_contacts_promise",
        "clean_contacts_restructure",
        "report_mortgage_portfolio",
        "report_restructuring_pipeline",
        "report_commercial_promises",
        "quality_view_counts",
    )
    def rows_of(df):
        return sorted((tuple(map(repr, r)) for r in df.collect()))

    lazy = {n: rows_of(QUERIES[n].fn(spark, SF_DIR)) for n in checked}
    reference.materialize_staging(spark, SF_DIR, n_splits=4)
    try:
        primary = QUERIES["clean_contacts_primary"].fn(spark, SF_DIR)
        mat = {n: rows_of(QUERIES[n].fn(spark, SF_DIR)) for n in checked}
        for n in checked:
            assert mat[n] == lazy[n], f"{n}: materialized path diverges from lazy"
        plan = primary._jdf.queryExecution().executedPlan().toString()
        assert "multi_report_etl_pipeline_spark_staging" in plan, plan
    finally:
        reference.clear_materialized_staging()


def test_materialized_staging_follows_source_rewrite(spark, tmp_path):
    """build_staging serves the materialized survivors only while the
    orders/lineitem fingerprint matches: after an in-place rewrite of
    lineitem it must equal the lazy path on the new data and the DuckDB
    oracle on the rewritten files. Scratch stays
    bounded: materializing again leaves exactly one survivors dir, and
    clear_materialized_staging deletes it."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from multi_report_etl_pipeline_spark.queries import reference
    from tests.conftest import SF_DIR_MED

    def rows_of(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    def survivor_dirs():
        pattern = os.path.join(
            tempfile.gettempdir(), "multi_report_etl_pipeline_spark_staging*"
        )
        return set(glob.glob(pattern))

    primary = QUERIES["clean_contacts_primary"].fn
    # d is materialized and then rewritten; lazy_dir holds the same new
    # data and is never materialized
    d, lazy_dir = str(tmp_path / "d"), str(tmp_path / "lazy")
    for sf in (d, lazy_dir):
        os.makedirs(sf)
        shutil.copyfile(f"{SF_DIR_MED}/orders.parquet", f"{sf}/orders.parquet")
    shutil.copyfile(f"{SF_DIR_MED}/lineitem.parquet", f"{d}/lineitem.parquet")
    before = survivor_dirs()
    try:
        reference.materialize_staging(spark, d, n_splits=4)
        old = rows_of(primary(spark, d))
        assert len(survivor_dirs() - before) == 1

        lineitem = pq.read_table(f"{SF_DIR_MED}/lineitem.parquet")
        lineitem = lineitem.slice(0, 2 * len(lineitem) // 3)
        for sf in (d, lazy_dir):
            pq.write_table(lineitem, f"{sf}/lineitem.parquet")
        lazy = rows_of(primary(spark, lazy_dir))
        assert lazy != old
        assert rows_of(primary(spark, d)) == lazy

        reference.materialize_staging(spark, d, n_splits=4)
        df = primary(spark, d)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "multi_report_etl_pipeline_spark_staging" in plan, plan
        assert rows_of(df) == lazy
        # and both equal the DuckDB oracle on the rewritten files
        con = duckdb.connect()
        try:
            for t in reference._SURVIVOR_SOURCES:  # noqa: SLF001
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            assert_matches_oracle(
                df, con, oracle.view_sql("clean_contacts_primary"), schema="main"
            )
        finally:
            con.close()
        reference.materialize_staging(spark, d, n_splits=4)
        assert len(survivor_dirs() - before) == 1
    finally:
        reference.clear_materialized_staging(d)
    assert survivor_dirs() - before == set()


def test_materialized_builds_start_no_job(spark):
    """Building on materialized staging is planning only: build_staging
    and the seven report/probe builds read the survivors with their
    stored schema and start no Spark job."""
    from multi_report_etl_pipeline_spark.queries import reference

    builds = (
        "report_mortgage_portfolio",
        "report_restructuring_pipeline",
        "report_commercial_promises",
        "quality_view_counts",
        "quality_duplicate_operations",
        "quality_null_keys",
        "quality_date_parse_failures",
    )
    sc = spark.sparkContext
    reference.materialize_staging(spark, SF_DIR, n_splits=4)
    group = "test_materialized_builds_start_no_job"
    try:
        sc.setJobGroup(group, group)
        build_staging(spark, SF_DIR)
        for name in builds:
            QUERIES[name].fn(spark, SF_DIR)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        reference.clear_materialized_staging(SF_DIR)
    assert jobs == [], jobs
