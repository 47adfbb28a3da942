"""Differential tests for event analytics (batch form) vs DuckDB."""

from __future__ import annotations

import os

import pytest

from multi_report_etl_pipeline_spark.queries.events import QUERIES
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    assert spec.oracle is not None
    df = spec.fn(spark, SF_DIR)
    assert_matches_oracle(df, duck, spec.oracle)


def test_binned_range_join_matches_plain(spark):
    """The (key, time-bin) equi-join rewrite must produce exactly the
    plain range join's pairs — including window-boundary rows and pairs
    that straddle a bin edge."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.asof import (
        binned_range_join,
        range_join,
    )

    ev = read_table(spark, SF_DIR, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    def pairs(df):
        out = df.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lt"),
            F.col("r.ts").alias("rt"),
        )
        return sorted(tuple(map(repr, r)) for r in out.collect())

    plain = range_join(
        errors, clicks, key="user_id", left_ts="ts", right_ts="ts",
        lower=F.expr("INTERVAL 5 MINUTES"), upper=F.expr("INTERVAL 0 SECONDS"),
    )
    for bin_width in (60.0, 300.0, 3600.0):
        binned = binned_range_join(
            errors, clicks, key="user_id", left_ts="ts", right_ts="ts",
            lower_s=300.0, upper_s=0.0, bin_width_s=bin_width,
        )
        assert pairs(binned) == pairs(plain), f"bin_width={bin_width}"


def test_funnel_ordering_semantics(spark):
    """Crafted cases the sf fixture can't isolate: a purchase BEFORE the
    first post-signup click must not count at step 3, a click before
    signup must not count at step 2, and a user with no signup counts
    nowhere."""
    import datetime as dt

    from multi_report_etl_pipeline_spark.queries.events import conversion_funnel

    t0 = dt.datetime(2024, 1, 1)
    rows = []

    def ev(user, typ, minutes):
        rows.append((user, typ, t0 + dt.timedelta(minutes=minutes)))

    # u1: full ordered funnel
    ev(1, "signup", 0), ev(1, "click", 10), ev(1, "purchase", 20)
    # u2: purchase precedes the post-signup click -> steps 1,2 only
    ev(2, "signup", 0), ev(2, "purchase", 5), ev(2, "click", 10)
    # u3: click precedes signup -> step 1 only
    ev(3, "click", 0), ev(3, "signup", 10)
    # u4: no signup -> no steps
    ev(4, "click", 0), ev(4, "purchase", 10)
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    import multi_report_etl_pipeline_spark.queries.events as events_mod

    orig = events_mod.read_table
    events_mod.read_table = lambda *_a, **_k: df
    try:
        got = {r.step: r.users for r in conversion_funnel(spark, "unused").collect()}
    finally:
        events_mod.read_table = orig
    assert got == {"signup": 3, "click_after_signup": 2, "purchase_after_click": 1}


def test_binned_range_join_ntz_is_dst_invariant(spark):
    """TIMESTAMP_NTZ bin arithmetic must not consult the session zone:
    under a DST-observing timezone with rows straddling the transition
    (America/Los_Angeles, 2024-03-10 02:00 spring-forward), an NTZ->LTZ
    cast would shift pre/post-transition rows by different offsets and
    drift bins away from range_join's raw-timestamp comparison. Pins
    binned == plain under exactly that regime."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators.asof import (
        binned_range_join,
        range_join,
    )

    base = dt.datetime(2024, 3, 10, 0, 0, 0)  # 2h before spring-forward
    rows = [(i % 3, base + dt.timedelta(minutes=17 * i)) for i in range(40)]
    schema = "user_id long, ts timestamp_ntz"
    left = spark.createDataFrame(rows, schema)
    right = spark.createDataFrame(
        [(u, t + dt.timedelta(minutes=-3)) for u, t in rows], schema
    )
    assert dict(left.dtypes)["ts"] == "timestamp_ntz"

    def pairs(df):
        out = df.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lt"),
            F.col("r.ts").alias("rt"),
        )
        return sorted(tuple(map(repr, r)) for r in out.collect())

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        plain = pairs(
            range_join(
                left, right, key="user_id", left_ts="ts", right_ts="ts",
                lower=F.expr("INTERVAL 5 MINUTES"),
                upper=F.expr("INTERVAL 0 SECONDS"),
            )
        )
        assert len(plain) > 0
        for bin_width in (60.0, 1800.0):
            binned = binned_range_join(
                left, right, key="user_id", left_ts="ts", right_ts="ts",
                lower_s=300.0, upper_s=0.0, bin_width_s=bin_width,
            )
            assert pairs(binned) == plain, f"bin_width={bin_width}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_gap_fill_locf_semantics(spark):
    """Constructed series with a known hole: the spine is dense between
    each key's min and max hour, gap rows carry cnt=0/is_gap=1 and the
    LAST observed average (not null, not the next one)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    rows = [
        (1, "2024-01-01 00:10:00", "a", 10.0),
        (2, "2024-01-01 00:20:00", "a", 20.0),
        # 01:00 hole
        (3, "2024-01-01 02:05:00", "a", 7.0),
        (4, "2024-01-01 05:00:00", "b", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.createOrReplaceTempView("__gap_probe")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = {
            (r["event_type"], r["hour_ts"]): (
                r["cnt"],
                r["avg_value"],
                r["is_gap"],
            )
            for r in QUERIES["events_gap_filled_hourly"].fn(spark, d).collect()
        }
    assert out[("a", "2024-01-01 00:00:00")] == (2, 15.0, 0)
    assert out[("a", "2024-01-01 01:00:00")] == (0, 15.0, 1)  # LOCF
    assert out[("a", "2024-01-01 02:00:00")] == (1, 7.0, 0)
    assert out[("b", "2024-01-01 05:00:00")] == (1, 1.0, 0)
    assert len(out) == 4  # spine spans per key, no cross-key bleed


def test_transition_matrix_rows_are_distributions(spark):
    import collections

    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    rows = QUERIES["events_transition_matrix"].fn(spark, SF_DIR).collect()
    by_src = collections.defaultdict(float)
    for r in rows:
        assert r["n"] > 0 and 0.0 < r["p"] <= 1.0
        by_src[r["event_type"]] += r["p"]
    assert by_src, "fixture should produce transitions"
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-4, (src, total)


def test_ewma_anomaly_flags_planted_spike(spark, tmp_path):
    """An alternating 1/2-per-hour series (nonzero trailing variance)
    with one 60-event hour must flag exactly that hour; a zero-variance
    trailing window must yield a NULL zscore, never a flag."""
    import datetime

    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(40):
        n = 60 if h == 30 else (1 if h % 2 == 0 else 2)
        for i in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=i % 60),
                 7, "click", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["hour_ts"]: r
        for r in QUERIES["events_ewma_anomaly"].fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 40
    flagged = [t for t, r in out.items() if r["is_anomaly"] == 1]
    assert flagged == ["2024-01-02 06:00:00"], flagged  # base + 30h
    assert out["2024-01-02 06:00:00"]["cnt"] == 60
    # first row has an empty trailing frame -> NULL zscore, no flag
    first = out["2024-01-01 00:00:00"]
    assert first["zscore"] is None and first["is_anomaly"] == 0
    # EWMA over the alternating prefix stays within [1, 2]
    steady = out["2024-01-01 20:00:00"]
    assert 1.0 <= steady["ewma"] <= 2.0 and steady["is_anomaly"] == 0


def test_hourly_rollup_serves_identical_values_and_reuses_artifact(
    spark, tmp_path
):
    """The continuous-aggregate artifact (operators/rollup) must (a)
    serve gap-fill and EWMA with values identical to their inline
    twins, (b) build once and reuse the persisted files on a second
    call (no rewrite), and (c) invalidate on a fixture fingerprint
    change (different path)."""
    import os

    import shutil

    from multi_report_etl_pipeline_spark import artifacts
    from multi_report_etl_pipeline_spark.operators import rollup as rl
    from multi_report_etl_pipeline_spark.queries.events import (
        events_ewma_anomaly,
        events_gap_filled_hourly,
    )
    from tests.conftest import SF_DIR

    base = str(tmp_path / "ru")
    kind = ("hourly_rollup", base)
    df = rl.hourly_rollup(spark, SF_DIR, base_dir=base)
    [path] = [os.path.join(base, d) for d in os.listdir(base)]
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    assert (kind, SF_DIR) in artifacts.STORE.keys()
    artifacts.clear(kind)  # simulate a new process
    assert (kind, SF_DIR) not in artifacts.STORE.keys()
    df2 = rl.hourly_rollup(spark, SF_DIR, base_dir=base)
    mtimes2 = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    assert mtimes2 == mtimes, "reuse must not rewrite the artifact"
    assert df.count() == df2.count() > 0

    # serving rows == inline rows, value for value (default base_dir
    # artifact built on demand by the source='rollup' path)
    for fn in (events_gap_filled_hourly, events_ewma_anomaly):
        inline = {tuple(map(str, r)) for r in fn(spark, SF_DIR).collect()}
        served = {
            tuple(map(str, r))
            for r in fn(spark, SF_DIR, source="rollup").collect()
        }
        assert inline == served and inline

    # (c) an in-place rewrite of the events table is served from a new
    # path, and its store entry replaces the old one
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    dst = os.path.join(sf_dir, "events.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "events.parquet"), dst)
    rl.hourly_rollup(spark, sf_dir, base_dir=base).count()
    os.utime(dst, (1, 1))
    rl.hourly_rollup(spark, sf_dir, base_dir=base).count()
    assert len(os.listdir(base)) == 3
    assert [k for k in artifacts.STORE.keys() if k[1] == sf_dir] == [(kind, sf_dir)]
    artifacts.clear(sf_dir=sf_dir)


def test_streaming_twins_share_artifacts_and_follow_rewrites(spark, tmp_path):
    """The streaming twins score under their batch query's artifacts
    (the unigram LM and the events value bounds are the SAME store
    entries, fit once) and, like them, must not serve a stale artifact
    after an in-place rewrite of their source table."""
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from multi_report_etl_pipeline_spark import artifacts
    from multi_report_etl_pipeline_spark.queries import llm_ops
    from tests.conftest import SF_DIR_MED

    sf_dir = str(tmp_path)
    for t in ("documents", "events"):
        shutil.copyfile(
            os.path.join(SF_DIR_MED, f"{t}.parquet"), os.path.join(sf_dir, f"{t}.parquet")
        )
    con = duckdb.connect()
    con.execute("CREATE SCHEMA tmp")
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW tmp.{t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pairs = [
        (llm_ops.QUERIES["docs_unigram_logprob"], QUERIES["streaming_doc_perplexity"]),
        (llm_ops.QUERIES["docs_quality_logreg"], QUERIES["streaming_quality_logreg"]),
        (
            llm_ops.QUERIES["events_binned_percentiles"],
            QUERIES["streaming_binned_percentiles"],
        ),
    ]

    def run_all():
        for batch, twin in pairs:
            for spec in (batch, twin):
                assert_matches_oracle(spec.fn(spark, sf_dir), con, spec.oracle, "tmp")
        kinds = sorted(k for k, d in artifacts.STORE.keys() if d == sf_dir)
        assert kinds == ["events_value_bounds", "logreg_weights", "unigram_lm"], kinds

    try:
        run_all()
        # rewrite both tables in place: a third of the corpus goes, and
        # the extreme event values go, so every artifact changes
        docs = pq.read_table(os.path.join(SF_DIR_MED, "documents.parquet"))
        pq.write_table(docs.slice(0, 2 * len(docs) // 3), f"{sf_dir}/documents.parquet")
        ev = pq.read_table(os.path.join(SF_DIR_MED, "events.parquet"))
        mm = pc.min_max(ev["value"])
        keep = pc.and_(pc.greater(ev["value"], mm["min"]), pc.less(ev["value"], mm["max"]))
        pq.write_table(ev.filter(keep), f"{sf_dir}/events.parquet")
        run_all()
    finally:
        artifacts.clear(sf_dir=sf_dir)
        con.close()
