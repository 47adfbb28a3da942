"""Event-stream analytics, batch form (SURVEY.md §2.9 "streaming
analytics"). Every operator here has a Structured Streaming twin in
``multi_report_etl_pipeline_spark.streaming`` (same logical plan over
``readStream``); the batch form is what the DuckDB oracle can check, and
Spark guarantees batch/streaming semantics agree for these operators.

- tumbling / sliding windows  -> F.window(ts, ...)
- session windows             -> F.session_window(ts, gap)   (oracle:
  classic gaps-and-islands SQL — lag + running flag sum)
- JSON property extraction    -> get_json_object (events.props is a JSON
  string column, the "typed metadata over opaque payload" pattern)
- pivoted counts              -> groupBy().pivot() with explicit values
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark import oracle
from multi_report_etl_pipeline_spark.io import read_table
from multi_report_etl_pipeline_spark.queries import QuerySpec

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# events.value carries 2 exact decimals and is non-negative by domain, so
# x*100 + 0.5 truncated to BIGINT == half-up ROUND(x*100), and long-cents
# sums are exact and order-independent like the DECIMAL(18,2) form — but
# stay inside whole-stage codegen where Spark's Decimal sum is boxed
# (measured 0.35 s -> 0.20 s on windowed_counts at sf1). cents/100.0 is
# the correctly-rounded double of the exact decimal sum, so outputs stay
# bit-identical to the oracle's DECIMAL spelling (both compute the
# nearest double to the same rational k/100).
VALUE_CENTS = "CAST(value * 100 + 0.5 AS BIGINT)"


def sum_value_double() -> Column:
    return F.sum(F.expr(VALUE_CENTS)) / F.lit(100.0)


def windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value sum.

    At scale: partial agg before the shuffle on (window, type); with a
    watermark this exact plan runs incrementally under readStream.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            sum_value_double().alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: minute -> hour ->
    day, where each coarser level RE-AGGREGATES the finer one (count of
    counts, sum of sums) instead of rescanning the fact table.

    This is the scale pattern for multi-resolution time-series serving:
    at 100 TB the minute aggregate is the only pass over raw events
    (partial agg map-side, one shuffle on (minute, type)); the hour and
    day levels then reduce ~1440x fewer rows each, and in a deployment
    they are incrementally maintained views over the level below. The
    day-level output is verified against DuckDB aggregating the raw
    events directly — pinning that rollup-from-rollup equals
    aggregate-from-raw (exact decimal sums make the re-aggregation
    lossless; a mean or distinct-count would need sum/count or sketch
    carriers instead)."""
    ev = read_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.window("ts", "1 minute").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        # carry exact long cents through every rollup level (lossless
        # re-aggregation, codegen-friendly — see VALUE_CENTS)
        F.sum(F.expr(VALUE_CENTS)).alias("cents"),
    )
    hour = minute.groupBy(
        F.window(F.col("w.start"), "1 hour").alias("w"), "event_type"
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("cents").alias("cents"),
    )
    day = hour.groupBy(
        F.window(F.col("w.start"), "1 day").alias("w"), "event_type"
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("cents").alias("cents"),
    )
    return day.select(
        F.date_format("w.start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "cnt",
        (F.col("cents") / F.lit(100.0)).alias("sum_value"),
    )


MULTI_RES_ROLLUP_SQL = """
SELECT
    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
    event_type,
    COUNT(*) AS cnt,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


WINDOWED_COUNTS_SQL = """
SELECT
    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
    event_type,
    COUNT(*) AS cnt,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h size, 1h slide): each event lands in 2 windows."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # portable half-up average at 4dp: pure integer arithmetic
            # (ROUND on doubles is engine-dependent at .5 boundaries —
            # Spark rounds the shortest decimal string, DuckDB the binary)
            (
                F.expr(
                    "CAST((2 * sum(CAST(value * 100 + 0.5 AS BIGINT)) * 100"
                    " + count(1)) DIV (2 * count(1)) AS DOUBLE) / 10000"
                )
            ).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "avg_value",
        )
    )


SLIDING_AVG_SQL = """
WITH assigned AS (
    SELECT e.*, date_trunc('hour', ts) - (o.off * INTERVAL 1 HOUR) AS window_start
    FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS off) o
)
SELECT
    strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
    event_type,
    COUNT(*) AS cnt,
    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) * 100
          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 10000 AS avg_value
FROM assigned GROUP BY 1, 2
"""


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min inactivity) per user via session_window.

    The oracle is the classic gaps-and-islands rewrite — which is also
    what you'd hand-write on engines without native session windows; on
    Spark the native operator is one shuffle on user_id and streams under
    watermarks.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_value_double().alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


SESSIONIZATION_SQL = """
WITH ordered AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
islands AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS session_id
    FROM ordered
)
SELECT
    user_id,
    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM islands GROUP BY user_id, session_id
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata out of an opaque JSON payload column (multimodal
    pattern: binary/JSON blob + extracted typed fields)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


JSON_PROPS_SQL = """
SELECT
    event_type,
    COUNT(*) AS cnt,
    ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
    MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
    MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


def daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one count column per event type (explicit
    value list — never let pivot scan for distinct values at scale).

    Round 8: the group key is the epoch-day LONG, formatted to the
    'yyyy-MM-dd' string only over the |days| aggregate rows — the old
    per-row date_format paid a timezone-aware formatter AND made the
    partial-agg hash key a 10-char string on every scan row.
    Value-identical under the pinned UTC session."""
    ev = read_table(spark, sf_dir, "events")
    tl = F.col("ts").cast("timestamp_ltz").cast("long")
    return (
        ev.groupBy((tl - F.pmod(tl, F.lit(86400))).alias("day_s"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .select(
            F.date_format(F.timestamp_seconds(F.col("day_s")), "yyyy-MM-dd").alias(
                "day"
            ),
            *EVENT_TYPES,
        )
    )


DAILY_PIVOT_SQL = """
SELECT
    strftime(ts, '%Y-%m-%d') AS day,
    COUNT(*) FILTER (WHERE event_type = 'click') AS click,
    COUNT(*) FILTER (WHERE event_type = 'error') AS error,
    COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
    COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
    COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY 1
"""


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase: a user
    counts at step k only with a step-k event strictly after their
    step-(k-1) entry time (first-touch semantics).

    Shape at scale: ONE exchange on user_id feeding a per-user time
    sort, two running-min window passes, and a conditional-min
    aggregation — per-user state is a sort buffer (spillable via
    Spark's external row array), never a per-row array. A click
    qualifies (ts > the user's GLOBAL first-signup time) exactly when
    a strictly-earlier signup exists in its time-ordered prefix, i.e.
    ts > running_min(signup ts); same argument chains purchases
    against the running min of qualifying-click times — so the window
    form is value-identical to the per-user-scalar form (tie rows at
    equal ts can't qualify under either reading, so frame tie order
    is immaterial). The previous collect_list(sort_array) form held
    every click/purchase of a user inside ONE unspillable row — a
    10M-event bot user would be a straggler/OOM at 100 TB; the sort
    buffer spills instead.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin("signup", "click", "purchase"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    ev1 = ev.withColumn("t1_run", F.min(signup_ts).over(w))
    click_q = F.when(
        (F.col("event_type") == "click") & (F.col("ts") > F.col("t1_run")),
        F.col("ts"),
    )
    ev2 = ev1.withColumn("t2_run", F.min(click_q).over(w))
    purchase_q = F.when(
        (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2_run")),
        F.col("ts"),
    )
    stepped = ev2.groupBy("user_id").agg(
        F.min(signup_ts).alias("t1"),
        F.min(click_q).alias("t2"),
        F.min(purchase_q).alias("t3"),
    )
    counts = stepped.agg(
        F.count("t1").alias("signup"),
        F.count("t2").alias("click_after_signup"),
        F.count("t3").alias("purchase_after_click"),
    )
    # explode a literal struct array so the aggregation runs ONCE (a
    # 3-way union of selects over `counts` would recompute it per leg)
    steps = [("signup", 1), ("click_after_signup", 2), ("purchase_after_click", 3)]
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(order).alias("step_order"),
                        F.lit(name).alias("step"),
                        F.col(name).alias("users"),
                    )
                    for name, order in steps
                ]
            )
        ).alias("s")
    ).select("s.step_order", "s.step", "s.users")


FUNNEL_SQL = """
WITH per_user AS (
    SELECT user_id,
           min(ts) FILTER (WHERE event_type = 'signup') AS t1,
           list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS clicks,
           list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS purchases
    FROM events GROUP BY user_id
),
s2 AS (
    SELECT t1, list_filter(clicks, c -> c > t1)[1] AS t2, purchases FROM per_user
),
s3 AS (
    SELECT t1, t2, list_filter(purchases, p -> p > t2)[1] AS t3 FROM s2
),
counts AS (
    SELECT count(t1) AS signup, count(t2) AS click_after_signup,
           count(t3) AS purchase_after_click
    FROM s3
)
SELECT 1 AS step_order, 'signup' AS step, signup AS users FROM counts
UNION ALL
SELECT 2, 'click_after_signup', click_after_signup FROM counts
UNION ALL
SELECT 3, 'purchase_after_click', purchase_after_click FROM counts
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; a cohort is 'retained' in week-offset k when the user has any
    event in cohort_week + k.

    Shape at scale: ONE aggregation keyed on user_id computes the
    first-touch week AND the distinct active-week set together
    (collect_set is bounded by weeks-per-user, not events), the offsets
    explode from that set without touching the fact table again, and
    the final aggregation on (cohort_week, offset) reduces to weeks x
    offsets rows — no join, no second scan, two exchanges total. A
    (user, week) row appears once, so the final count needs no
    distinct. Week arithmetic stays on date_trunc'd dates so both
    engines bin identically.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("weeks"),
    )
    offsets = per_user.select(
        "cohort_week",
        F.explode("weeks").alias("week"),
    ).select(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("bigint")
        .alias("week_offset"),
    )
    return (
        offsets.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


COHORT_SQL = """
WITH ev AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
first AS (
    SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, week FROM ev)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM active a JOIN first USING (user_id)
GROUP BY first.cohort_week, week_offset
"""


def user_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: log2-bucket histogram of per-user event
    counts (how many users have 1 event, 2-3, 4-7, ...). The number you
    look at before picking salting fan-out or AQE skew thresholds for a
    hot-key join. Two cascaded aggregations: per-key counts shuffle on
    the key (map-side partials), the histogram reduces |keys| rows to
    ~log2(max) buckets."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy(F.floor(F.log2("cnt")).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("n_events"),
        )
        .select(
            F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("bucket_min_events"),
            "n_users",
            "n_events",
        )
    )


ACTIVITY_HISTOGRAM_SQL = """
WITH counts AS (
    SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
)
SELECT CAST(power(2.0, CAST(floor(log2(cnt)) AS BIGINT)) AS BIGINT) AS bucket_min_events,
       COUNT(*) AS n_users,
       -- DuckDB SUM(BIGINT) yields HUGEINT, which the pandas
       -- materialization path turns into float64 ('3440.0' vs Spark's
       -- '3440'); cast back to BIGINT so both engines emit int64
       CAST(SUM(cnt) AS BIGINT) AS n_events
FROM counts
GROUP BY CAST(floor(log2(cnt)) AS BIGINT)
"""


QUERIES: dict[str, QuerySpec] = {
    "events_user_activity_histogram": QuerySpec(
        user_activity_histogram, ACTIVITY_HISTOGRAM_SQL
    ),
    "events_conversion_funnel": QuerySpec(conversion_funnel, FUNNEL_SQL),
    "events_cohort_retention": QuerySpec(cohort_retention, COHORT_SQL),
    "events_windowed_counts": QuerySpec(windowed_counts, WINDOWED_COUNTS_SQL),
    "events_multi_resolution_rollup": QuerySpec(
        multi_resolution_rollup, MULTI_RES_ROLLUP_SQL
    ),
    "events_sliding_avg": QuerySpec(sliding_avg, SLIDING_AVG_SQL),
    "events_sessionization": QuerySpec(sessionization, SESSIONIZATION_SQL),
    "events_json_props": QuerySpec(json_props_stats, JSON_PROPS_SQL),
    "events_daily_type_pivot": QuerySpec(daily_type_pivot, DAILY_PIVOT_SQL),
}


# ----------------------------------------------------------- streaming ---
# Streaming queries ARE driver-checkable: drain the stream with
# trigger=availableNow into a memory sink and return the result — the
# batch oracle then checks the streaming operator end-to-end.


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.windowed_counts_stream(st), "q_stream_wc", "complete"
    )
    return spark.table("q_stream_wc")


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous aggregate maintained INCREMENTALLY: the streaming
    twin of operators/rollup.hourly_rollup emits the same
    (hour_ts, event_type, cnt, av) rows the persisted batch artifact
    stores, via a watermarked tumbling-window aggregate drained with
    availableNow. Value-oracled against the same from-raw SQL."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.hourly_rollup_stream(st), "q_stream_rollup", "complete"
    )
    return spark.table("q_stream_rollup")


STREAM_HOURLY_ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
       event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(AVG(value), 6) AS av
FROM events GROUP BY 1, 2
"""


def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.sessionization_stream(st), "q_stream_sess", "complete"
    )
    return spark.table("q_stream_sess")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark drain; event_id unique in fixtures,
    so the oracle is the identity projection."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(streaming.dedup_stream(st), "q_stream_dedup", "append")
    return spark.table("q_stream_dedup").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM events
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchase x preceding
    clicks), drained with availableNow and checked against the batch
    interval join oracle."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.interval_join_stream(st), "q_stream_ij", "append"
    )
    return spark.table("q_stream_ij").select(
        "purchase_id",
        "click_id",
        "user_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    )


STREAM_INTERVAL_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id AS user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 5 MINUTE
 AND c.ts < p.ts
"""


def streaming_contact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STAGING layer: the reference's core view
    (clean_contacts_primary) maintained incrementally by the min_by
    survivor aggregation over a lineitem file stream. Drained with
    availableNow, the result must be row-identical to the batch view —
    the full view oracle hash-checks the streaming path end-to-end."""
    from multi_report_etl_pipeline_spark import staging, streaming

    stg = streaming.read_activities_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.contact_survivors_stream(stg), "q_stream_surv", "complete"
    )
    views = staging.clean_views_from_survivors(spark.table("q_stream_surv"))
    return views["clean_contacts_primary"]


def _curation_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops._curation_sql()


def _snapshot_merge_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import tpch  # noqa: PLC0415

    return tpch.SNAPSHOT_MERGE_SQL


def streaming_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.tpch.orders_snapshot_merge: change rows
    arrive as a file stream, the latest-wins snapshot is maintained by a
    streaming max_by aggregation (streaming.snapshot_merge_stream),
    drained with availableNow, then tombstones drop at read time. Same
    per-row DuckDB merge oracle as the batch query — stream-vs-batch
    MERGE parity is driver-enforced."""
    from multi_report_etl_pipeline_spark import streaming

    orders = streaming.read_orders_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.snapshot_merge_stream(orders), "q_stream_snapmerge", "complete"
    )
    snap = spark.table("q_stream_snapmerge")
    return snap.filter(~F.col("s.deleted")).select(
        "o_orderkey",
        F.col("s.price").cast("double").alias("total_price"),
        F.col("s.version").alias("version"),
    )


def streaming_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_curation_pipeline: documents arrive as a
    file stream, the survivor table is maintained incrementally by the
    shared min(struct) curation aggregation (text.curation_survivors —
    the identical plan the batch query runs), drained with availableNow,
    then sampled. Hash-checked against the same CTE oracle as the batch
    query, so stream-vs-batch parity is driver-enforced."""
    from multi_report_etl_pipeline_spark import streaming
    from multi_report_etl_pipeline_spark.operators import sampling, text

    docs = streaming.read_documents_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.curation_survivors_stream(docs), "q_stream_curation", "complete"
    )
    surv = text.expand_curation_survivors(spark.table("q_stream_curation"))
    return sampling.hash_sample(surv, "doc_id", 50)


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arbitrary-stateful-operator path under the driver's oracle
    gate: per-user running (count, sum) maintained by
    ``applyInPandasWithState`` (streaming.user_totals_stream — explicit
    state schema, update output mode), drained with availableNow. The
    update-mode sink carries one row per state UPDATE, so the final
    state per user is recovered by max(events_seen) (the counter is
    monotone) with ``max_by`` pulling the matching total. The DuckDB
    oracle recomputes the final state as a plain per-user aggregate —
    pinning that incremental arbitrary state converges to the batch
    answer."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.user_totals_stream(st), "q_stream_user_totals", "update"
    )
    sink = spark.table("q_stream_user_totals")
    return sink.groupBy("user_id").agg(
        F.max("events_seen").alias("events_seen"),
        F.max_by("value_total", "events_seen").alias("value_total"),
    )


USER_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS events_seen,
       ROUND(SUM(value), 2) AS value_total
FROM events GROUP BY user_id
"""


def streaming_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_vocabulary's token-count side: the corpus
    heavy-hitter table maintained incrementally (one count per distinct
    token of state), drained with availableNow and hash-checked against
    the batch aggregation over the same corpus."""
    from multi_report_etl_pipeline_spark import streaming

    docs = streaming.read_documents_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.vocabulary_stream(docs), "q_stream_vocab", "complete"
    )
    return spark.table("q_stream_vocab")


_NORM_DOC = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
STREAM_VOCAB_SQL = f"""
SELECT token, COUNT(*) AS tf
FROM (SELECT unnest(string_split({_NORM_DOC}, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


QUERIES.update(
    {
        "streaming_user_totals": QuerySpec(streaming_user_totals, USER_TOTALS_SQL),
        "streaming_vocabulary": QuerySpec(streaming_vocabulary, STREAM_VOCAB_SQL),
        "streaming_windowed_counts": QuerySpec(
            streaming_windowed_counts, WINDOWED_COUNTS_SQL
        ),
        "streaming_hourly_rollup": QuerySpec(
            streaming_hourly_rollup, STREAM_HOURLY_ROLLUP_SQL
        ),
        "streaming_sessionization": QuerySpec(
            streaming_sessionization, SESSIONIZATION_SQL
        ),
        "streaming_dedup": QuerySpec(streaming_dedup, STREAM_DEDUP_SQL),
        "streaming_interval_join": QuerySpec(
            streaming_interval_join, STREAM_INTERVAL_JOIN_SQL
        ),
        "streaming_contact_survivors": QuerySpec(
            streaming_contact_survivors,
            oracle.view_sql("clean_contacts_primary"),
        ),
        "streaming_doc_curation": QuerySpec(
            streaming_doc_curation, _curation_oracle_sql()
        ),
        "streaming_snapshot_merge": QuerySpec(
            streaming_snapshot_merge, _snapshot_merge_oracle_sql()
        ),
    }
)


def streaming_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_unigram_logprob: documents arrive as a
    file stream and are scored under the FROZEN LM artifact the batch
    query fit (the same artifact-store entry) — offline fit,
    online scoring, the deployment shape of perplexity filtering. The
    per-doc score aggregation is maintained incrementally and drained
    with availableNow; hash-checked against the SAME oracle as the
    batch query, so stream-vs-batch parity is driver-enforced."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.io import fan_out  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    lm = llm_ops.unigram_lm(
        fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",)),
        sf_dir,
    )
    docs = streaming.read_documents_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.doc_perplexity_stream(docs, lm),
        "q_stream_perplexity",
        "complete",
    )
    return spark.table("q_stream_perplexity")


def _stream_perplexity_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops._unigram_logprob_sql()  # noqa: SLF001 - same oracle as batch


QUERIES.update(
    {
        "streaming_doc_perplexity": QuerySpec(
            streaming_doc_perplexity, _stream_perplexity_oracle_sql()
        ),
    }
)


def streaming_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_quality_logreg's scoring half: the linear
    quality head is fit OFFLINE on the batch snapshot (weights stored as
    the frozen model artifact in the artifact store) and each
    arriving document micro-batch is scored by a stateless narrow map —
    no state store, no watermark, append mode. Hash-checked against the
    SAME unrolled-GD oracle as the batch query, so stream-vs-batch
    parity of the learned scores is driver-enforced."""
    from multi_report_etl_pipeline_spark import artifacts, streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.operators import classifier  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    weights = artifacts.get(
        "logreg_weights",
        sf_dir,
        ("documents",),
        lambda: classifier.logistic_regression_fit(
            llm_ops.logreg_features(read_table(spark, sf_dir, "documents")),
            [name for name, _ in llm_ops._LOGREG_FEATS],  # noqa: SLF001
            iters=llm_ops._LOGREG_ITERS,  # noqa: SLF001
        ),
    )
    docs = streaming.read_documents_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.quality_score_stream(docs, weights),
        "q_stream_quality_logreg",
        "append",
    )
    return spark.table("q_stream_quality_logreg")


def _stream_logreg_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops._logreg_sql()  # noqa: SLF001 - same oracle as batch


QUERIES.update(
    {
        "streaming_quality_logreg": QuerySpec(
            streaming_quality_logreg, _stream_logreg_oracle_sql()
        ),
    }
)


def streaming_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_weighted_sample: Efraimidis-Spirakis
    selection maintained incrementally as distributed per-shard top-k
    state (bounded at n_shards * k rows), final state recovered via the
    monotone seq counter and merged into the global top-k. The
    priorities are deterministic md5 arithmetic, so the drained stream
    result must EQUAL the batch operator's — the SAME DuckDB oracle
    checks both, making stream-vs-batch sampling parity
    driver-enforced."""
    from pyspark.sql import Window  # noqa: PLC0415

    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    k = llm_ops._WSAMPLE_K  # noqa: SLF001 - shared with the batch twin
    docs = streaming.read_documents_stream(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") / F.lit(100.0)).alias("weight"),
    )
    streaming.run_available_now(
        streaming.weighted_topk_stream(docs, k=k),
        "q_stream_weighted_sample",
        "update",
    )
    t = spark.table("q_stream_weighted_sample")
    # final state = each shard's rows at its max seq (a self-join on the
    # memory view trips conflicting-reference resolution; the window
    # form reads the drained table once)
    latest = t.withColumn(
        "max_seq", F.max("seq").over(Window.partitionBy("shard"))
    ).filter(F.col("seq") == F.col("max_seq"))
    merged = latest.orderBy(
        F.col("priority").desc(), F.col("doc_id").asc()
    ).limit(k)
    rank_w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    return merged.select(
        "doc_id", "lang", "source", "weight", "priority"
    ).withColumn("sample_rank", F.row_number().over(rank_w))


def _stream_weighted_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops.WEIGHTED_SAMPLE_SQL  # same oracle as the batch twin


QUERIES.update(
    {
        "streaming_weighted_sample": QuerySpec(
            streaming_weighted_sample, _stream_weighted_oracle_sql()
        ),
    }
)


def events_gap_filled_hourly(
    spark: SparkSession, sf_dir: str, source: str = "inline"
) -> DataFrame:
    """Time-series gap-fill + LOCF carry-forward — the continuous-
    aggregate completion every monitoring/feature pipeline needs: the
    hourly (type, bucket) aggregate is LEFT-joined onto a generated
    dense hour spine per type (sequence + explode — the spine is
    |types| x hours, produced not shuffled), missing buckets get
    cnt = 0 and carry the last observed hourly average forward
    (last_value IGNORE NULLS — a per-key ordered window whose state is
    one value, parallel across keys at scale). First bucket is always
    observed (the spine starts at each key's MIN), so LOCF never
    reads ahead of data.

    Round 8 (VERDICT r7 item 7): the pre-aggregate is localCheckpoint'd
    — it has TWO consumers (the bounds/spine branch and the join probe
    side) and physical exchange reuse does NOT fire across them
    (measured: the full events scan + aggregate ran twice, 2.81 s for a
    query whose aggregate alone costs 1.3 s). Materializing |types| x
    |hours| rows (3.6k at sf100ev) is a bounded artifact at any corpus
    scale, and the trade (eager construction, truncated lineage) is the
    hamming_banded_pairs one. Hour truncation is epoch arithmetic, not
    date_trunc — value-identical under the engine's pinned UTC session
    (session.py), and 1.42x cheaper on the 100M-row scan (sf100ev A/B,
    BASELINE.md round 8: 1.31 -> 0.92 s)."""
    if source == "rollup":
        from multi_report_etl_pipeline_spark.operators.rollup import (  # noqa: PLC0415
            hourly_rollup,
        )

        agg = hourly_rollup(spark, sf_dir).select("h", "event_type", "cnt", "av")
    else:
        ev = read_table(spark, sf_dir, "events")
        tl = F.col("ts").cast("timestamp_ltz").cast("long")
        agg = ev.groupBy(
            F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600))).alias("h"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 6).alias("av"),
        ).localCheckpoint()
    bounds = agg.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = spine.join(agg, ["event_type", "h"], "left")
    from pyspark.sql import Window  # noqa: PLC0415

    locf = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "event_type",
        F.date_format("h", TS_FMT_SPARK).alias("hour_ts"),
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        F.last("av", ignorenulls=True).over(locf).alias("avg_value"),
        F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("is_gap"),
    )


GAP_FILL_SQL = """
WITH agg AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           COUNT(*) AS cnt, ROUND(AVG(value), 6) AS av
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM agg GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
          FROM bounds),
j AS (SELECT s.event_type, s.h, a.cnt, a.av
      FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.h = a.h)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
       last_value(av IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
       CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS is_gap
FROM j
"""


def events_gap_filled_hourly_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap-fill served from the persisted hourly continuous aggregate
    (operators/rollup.hourly_rollup — the hypertable-rollup pattern):
    the 100M-row scan+aggregate happens ONCE per fixture fingerprint at
    rollup build, and every execution reads the |types| x |hours|
    artifact instead. Values identical to the inline row (the artifact
    stores the same cnt + round-6 avg the inline aggregate emits), so
    this row shares the flat oracle. The registered streaming twin
    (streaming_windowed_counts) is the incremental maintenance job a
    100 TB deployment runs instead of rebuilds."""
    return events_gap_filled_hourly(spark, sf_dir, source="rollup")


def events_ewma_anomaly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA anomaly scoring served from the shared hourly continuous
    aggregate — same artifact as events_gap_filled_hourly_rollup (one
    rollup, many consumers: the point of the pattern). Shares the
    inline row's oracle."""
    return events_ewma_anomaly(spark, sf_dir, source="rollup")


QUERIES.update(
    {
        "events_gap_filled_hourly": QuerySpec(
            events_gap_filled_hourly, GAP_FILL_SQL
        ),
        "events_gap_filled_hourly_rollup": QuerySpec(
            events_gap_filled_hourly_rollup, GAP_FILL_SQL
        ),
    }
)


def _event_type_dict(spark: SparkSession, sf_dir: str) -> list:
    """The data-derived event_type dictionary: one bounded
    distinct-types scan per dataset version (an artifact-store entry)."""
    from multi_report_etl_pipeline_spark import artifacts  # noqa: PLC0415

    # NULL types are dropped from the dictionary, not sorted (None vs
    # str raises): the narrow path's array_position returns NULL for an
    # unlisted (NULL) type and element_at passes the NULL index back
    # through as a NULL type — the same round-trip the string plan does
    # natively (ADVICE round 9)
    return artifacts.get(
        "event_type_dict",
        sf_dir,
        ("events",),
        lambda: sorted(
            r[0]
            for r in read_table(spark, sf_dir, "events")
            .select("event_type")
            .distinct()
            .collect()
            if r[0] is not None
        ),
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    — the path-analysis primitive (what follows a click?). LEAD over the
    (user, time) window pairs each event with its successor; ties on ts
    break by event_id so the successor is total-ordered in both engines.

    Scale: the LEAD window shuffles once on user_id (the same exchange
    family sessionization uses — co-partitioned pipelines share it);
    the pair aggregation is |types|^2-bounded with map-side combine,
    and the row-probability normalization window runs over that
    25-row aggregate, not the event stream.

    The event_type STRING is dictionary-encoded to an int index in the
    scan projection, so the user_id exchange and the window sort carry
    4 bytes instead of a ~10-char string; the strings come back via
    element_at over the literal dictionary AFTER the pair aggregation
    (|types|^2 rows). The dictionary is DERIVED FROM THE DATA (one
    distinct-types scan, an artifact per fixture fingerprint —
    the Parquet-dictionary analog, |types| is bounded by the domain),
    not from the EVENT_TYPES constant: a constant dictionary maps
    unseen types to array_position 0 and element_at(_, 0) RAISES
    (caught by the bruteforce property test's generated types).
    sf100ev A/B against the string-key plan: narrow 6.75 s vs string
    8.46 s min-of-mins (1.25x)."""
    ev = read_table(spark, sf_dir, "events")
    tdict = _event_type_dict(spark, sf_dir)
    type_arr = F.array(*[F.lit(t) for t in tdict])
    nxt_src = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.array_position(type_arr, F.col("event_type"))
        .cast("int")
        .alias("event_type"),
    )
    back = lambda c: F.element_at(  # noqa: E731
        F.array(*[F.lit(t) for t in tdict]), F.col(c)
    ).alias(c)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = nxt_src.withColumn("next_type", F.lead("event_type").over(w))
    pairs = (
        nxt.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(back("event_type"), back("next_type"), "n")
    )
    tot = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    ).orderBy("event_type", "next_type")


TRANSITION_SQL = """
WITH nxt AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type, next_type, COUNT(*) AS n
    FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY event_type), 6) AS p
FROM pairs
ORDER BY event_type, next_type
"""


_EWMA_W = [0.5**i for i in range(6)]  # dyadic: exact in double
_Z_LOOKBACK = 24


def events_ewma_anomaly(
    spark: SparkSession, sf_dir: str, source: str = "inline"
) -> DataFrame:
    """EWMA smoothing + trailing z-score anomaly flags over the dense
    gap-filled hourly series — the monitoring-pipeline shape. All float
    inputs are exact integers (hourly counts; dyadic 0.5^i weights), so
    both engines run the identical IEEE op sequence: EWMA is a
    fixed-window dot product over 6 LAG columns (missing leading lags
    renormalize the weight mass), and the z-score derives from exact
    (n, sum, sum-of-squares) sufficient statistics over the trailing
    24-hour frame ending 1 hour before the current row.

    Scale: one hour/type aggregation, a produced (not shuffled) dense
    spine, then per-type ordered windows — O(1) state per row for the
    lags and running sums, parallel across types.

    Round 8: same two fixes as events_gap_filled_hourly (this query
    shares its aggregate->bounds->spine->join skeleton, and the same
    no-exchange-reuse double-scan applied): the |types| x |hours|
    pre-aggregate is localCheckpoint'd (bounded artifact at any
    scale), and hour truncation is epoch arithmetic (1.42x cheaper per
    scan row than date_trunc under the pinned UTC session)."""
    if source == "rollup":
        from multi_report_etl_pipeline_spark.operators.rollup import (  # noqa: PLC0415
            hourly_rollup,
        )

        agg = hourly_rollup(spark, sf_dir).select(
            "h", "event_type", F.col("cnt").alias("cnt0")
        )
    else:
        ev = read_table(spark, sf_dir, "events")
        tl = F.col("ts").cast("timestamp_ltz").cast("long")
        agg = ev.groupBy(
            F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600))).alias("h"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("cnt0")).localCheckpoint()
    bounds = agg.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    dense = spine.join(agg, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt0", F.lit(0)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lags = [F.lag("cnt", i).over(w) for i in range(len(_EWMA_W))]
    num = sum(
        (F.when(lg.isNotNull(), lg * F.lit(wt)).otherwise(F.lit(0.0))
         for lg, wt in zip(lags, _EWMA_W)),
        F.lit(0.0),
    )
    den = sum(
        (F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
         for lg, wt in zip(lags, _EWMA_W)),
        F.lit(0.0),
    )
    zf = w.rowsBetween(-_Z_LOOKBACK, -1)
    n24 = F.count("cnt").over(zf)
    s1 = F.sum("cnt").over(zf)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(zf)
    mean = s1.cast("double") / n24.cast("double")
    var = (s2.cast("double") - n24.cast("double") * mean * mean) / (
        n24.cast("double") - F.lit(1.0)
    )
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    scored = dense.select(
        "event_type",
        F.date_format("h", TS_FMT_SPARK).alias("hour_ts"),
        "cnt",
        F.round(num / den, 6).alias("ewma"),
        F.when((n24 >= 2) & (var > 0), F.round(z, 6)).alias("zscore"),
    )
    return scored.withColumn(
        "is_anomaly",
        F.when(F.abs(F.col("zscore")) > 3.0, 1).otherwise(0),
    )


def _ewma_sql() -> str:
    terms_n = " + ".join(
        f"CASE WHEN LAG(cnt, {i}) OVER wt IS NOT NULL "
        f"THEN LAG(cnt, {i}) OVER wt * {w!r} ELSE 0.0 END"
        for i, w in enumerate(_EWMA_W)
    )
    terms_d = " + ".join(
        f"CASE WHEN LAG(cnt, {i}) OVER wt IS NOT NULL "
        f"THEN {w!r} ELSE 0.0 END"
        for i, w in enumerate(_EWMA_W)
    )
    return f"""
WITH agg AS (
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt0
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM agg GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
          FROM bounds),
dense AS (
    SELECT s.event_type, s.h, CAST(COALESCE(a.cnt0, 0) AS BIGINT) AS cnt
    FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.h = a.h
),
scored AS (
    SELECT event_type, h, cnt,
           ({terms_n}) / ({terms_d}) AS ewma_raw,
           COUNT(cnt) OVER wz AS n24,
           CAST(SUM(cnt) OVER wz AS DOUBLE) AS s1,
           CAST(SUM(cnt * cnt) OVER wz AS DOUBLE) AS s2
    FROM dense
    WINDOW wt AS (PARTITION BY event_type ORDER BY h),
           wz AS (PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       cnt,
       ROUND(ewma_raw, 6) AS ewma,
       CASE WHEN n24 >= 2
                 AND (s2 - n24 * (s1 / n24) * (s1 / n24)) / (n24 - 1.0) > 0
            THEN ROUND((cnt - s1 / n24)
                 / sqrt((s2 - n24 * (s1 / n24) * (s1 / n24)) / (n24 - 1.0)), 6)
       END AS zscore,
       CASE WHEN abs(CASE WHEN n24 >= 2
                 AND (s2 - n24 * (s1 / n24) * (s1 / n24)) / (n24 - 1.0) > 0
            THEN ROUND((cnt - s1 / n24)
                 / sqrt((s2 - n24 * (s1 / n24) * (s1 / n24)) / (n24 - 1.0)), 6)
       END) > 3.0 THEN 1 ELSE 0 END AS is_anomaly
FROM scored
"""


QUERIES.update(
    {
        "events_transition_matrix": QuerySpec(
            events_transition_matrix, TRANSITION_SQL
        ),
        "events_ewma_anomaly": QuerySpec(events_ewma_anomaly, _ewma_sql()),
        "events_ewma_anomaly_rollup": QuerySpec(
            events_ewma_anomaly_rollup, _ewma_sql()
        ),
    }
)


_TOPU_K = 3


def events_hourly_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users per hour by event count — the per-window heavy-hitter
    report. The rank-and-cut rides the WindowGroupLimit shape (each
    task pre-prunes to k rows per hour before the exchange); ties break
    by user_id so the cut is total-ordered in both engines.

    Scale: one (hour, user)-keyed partial agg, then the group-limit
    window on the hour key — the aggregate, not the event stream, is
    what shuffles."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("h").orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPU_K)
        .select(
            F.date_format("h", TS_FMT_SPARK).alias("hour_ts"),
            "user_id",
            "cnt",
            "rnk",
        )
    )


HOURLY_TOP_USERS_SQL = f"""
WITH per AS (
    SELECT date_trunc('hour', ts) AS h, user_id, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT h, user_id, cnt,
           ROW_NUMBER() OVER (PARTITION BY h
                              ORDER BY cnt DESC, user_id ASC) AS rnk
    FROM per
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, user_id, cnt, rnk
FROM ranked WHERE rnk <= {_TOPU_K}
"""


_MG_KINV = 64  # heavy = share > 1/64 of the hour's events


def events_hourly_top_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-then-verify serving twin of events_hourly_top_users
    (VERDICT r8 item 5): top-{_TOPU_K} per hour among users CERTIFIED
    heavy (cnt * {_MG_KINV} > n_hour), via operators/frequent.
    bucket_sketch_heavy_hitters — one codegen scan aggregates
    (hour, xxhash64(user) % 8192) bucket counts (exchange bounded at
    |hours| x 8192 cells at ANY event volume), heavy buckets broadcast
    back as a semi-filter, survivors counted exactly. The exact twin
    shuffles ~|events| distinct (hour, user) pairs (95.6M at sf100ev —
    the documented irreducible floor this row exists to avoid at
    100 TB).

    The Misra-Gries form (grouped_heavy_hitters) computes the same
    output but streams every row through the Arrow/pandas boundary —
    measured 37-105 s vs this plan's all-JVM passes at sf100ev; the
    bucket sketch is the serving choice for full-volume streams, MG
    for pre-bounded inputs (see the operator docstrings).

    The serving CONTRACT is deliberately share-thresholded, not
    unconditional top-k: on pairwise-flat data (the sf100ev fixture's
    per-hour top counts are 1-4 events in ~139k) no sub-linear summary
    can certify a count-1 "top" user, so the honest result is empty
    there; where real heavy users exist they are returned exactly
    (verify pass), rank-ordered and value-oracled. Planted-skew
    property tests exercise that path (tests/test_frequent.py)."""
    from multi_report_etl_pipeline_spark.operators import frequent  # noqa: PLC0415

    ev = read_table(spark, sf_dir, "events")
    tl = F.col("ts").cast("timestamp_ltz").cast("long")
    pairs = ev.select(
        F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600))).alias("h"),
        "user_id",
    )
    heavy = frequent.bucket_sketch_heavy_hitters(
        pairs, "h", "user_id", k_inv=_MG_KINV
    )
    w = Window.partitionBy("h").orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        heavy.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPU_K)
        .select(
            F.date_format("h", TS_FMT_SPARK).alias("hour_ts"),
            "user_id",
            "cnt",
            "rnk",
        )
    )


HOURLY_TOP_USERS_SKETCH_SQL = f"""
WITH per AS (
    SELECT date_trunc('hour', ts) AS h, user_id, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
tot AS (SELECT h, SUM(cnt) AS n FROM per GROUP BY 1),
heavy AS (
    SELECT per.h, user_id, cnt,
           ROW_NUMBER() OVER (PARTITION BY per.h
                              ORDER BY cnt DESC, user_id ASC) AS rnk
    FROM per JOIN tot ON per.h = tot.h
    WHERE cnt * {_MG_KINV} > n
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, user_id, cnt, rnk
FROM heavy WHERE rnk <= {_TOPU_K}
"""


_PATH_LEN = 5
_PATH_K = 20


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining lite — the top event paths: each user-day's first
    {_PATH_LEN} event types (ordered by ts with event_id tiebreaks)
    concatenated into a path string, counted corpus-wide, top
    {_PATH_K} paths kept. The funnel-family companion that reports
    WHICH journeys dominate rather than testing one.

    Scale: the per-user-day agg carries at most one sorted
    {_PATH_LEN}-slot array per group (collect_list is bounded by the
    slice taken from it only after sorting — state is the user-day's
    events, the same bound sessionization pays), the path count is a
    low-cardinality hash agg, and the cut is TakeOrdered."""
    ev = read_table(spark, sf_dir, "events")
    per = (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("i"),
                        F.col("event_type").alias("e"),
                    )
                )
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, _PATH_LEN), lambda x: x["e"]
                ),
            ).alias("path")
        )
    )
    return (
        per.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(_PATH_K)
    )


SESSION_PATHS_SQL = f"""
WITH per AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:{_PATH_LEN}],
               '>') AS path
    FROM events GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions
FROM per GROUP BY 1
ORDER BY n_sessions DESC, path ASC
LIMIT {_PATH_K}
"""


QUERIES.update(
    {
        "events_hourly_top_users": QuerySpec(
            events_hourly_top_users, HOURLY_TOP_USERS_SQL
        ),
        "events_hourly_top_users_sketch": QuerySpec(
            events_hourly_top_users_sketch, HOURLY_TOP_USERS_SKETCH_SQL
        ),
        "events_session_paths": QuerySpec(events_session_paths, SESSION_PATHS_SQL),
    }
)


def streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_transition_matrix: successor pairing as
    an arbitrary-stateful operator (streaming.transitions_stream — one
    (ts, event_id, type) triple of state per user chains micro-batches
    together), drained with availableNow; the drained transition facts
    aggregate to the SAME matrix under the SAME oracle, so stream/batch
    path-analysis parity is driver-enforced."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.transitions_stream(st), "q_stream_transitions", "append"
    )
    sink = spark.table("q_stream_transitions")
    pairs = sink.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    ).orderBy("event_type", "next_type")


QUERIES.update(
    {
        "streaming_transition_matrix": QuerySpec(
            streaming_transition_matrix, TRANSITION_SQL
        ),
    }
)


def events_daily_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the reshape inverse of events_daily_type_pivot:
    the wide per-day count columns fold back into (day, event_type,
    cnt) rows. Round-tripping the pivot pins both reshape directions;
    the zero-filled combos survive in both engines (COUNT FILTER / the
    pivot's na.fill produce 0, not NULL).

    Scale: unpivot is a narrow row-local expansion (|types| output rows
    per input row, no shuffle beyond the pivot's own aggregation)."""
    wide = daily_type_pivot(spark, sf_dir)
    return wide.unpivot("day", EVENT_TYPES, "event_type", "cnt")


UNPIVOT_SQL = (
    "UNPIVOT (" + DAILY_PIVOT_SQL.strip() + ") "
    "ON click, error, purchase, signup, view "
    "INTO NAME event_type VALUE cnt"
)


QUERIES.update(
    {
        "events_daily_type_unpivot": QuerySpec(
            events_daily_type_unpivot, UNPIVOT_SQL
        ),
    }
)


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the portable HyperLogLog: the register table IS
    streaming state — per-register MAX maintained by a complete-mode
    groupBy (the HLL merge operator applied incrementally, 256 rows of
    state regardless of stream length), counting distinct users over
    the event stream. The estimate is computed over the drained sink by
    the same in-plan aggregation as the batch query, under the same
    oracle family — approximate-distinct parity between the batch and
    streaming paths, value-checked."""
    from multi_report_etl_pipeline_spark import streaming
    from multi_report_etl_pipeline_spark.queries import llm_ops

    st = streaming.read_events_stream(spark, sf_dir)
    regs = llm_ops.hll_registers(st, F.col("user_id").cast("string"))
    streaming.run_available_now(
        regs, "q_stream_hll", "complete", shuffle_partitions=8
    )  # state = 256 HLL registers: 8 tasks, not a 200-partition drain
    return llm_ops.hll_estimate(spark.table("q_stream_hll"))


def _streaming_hll_oracle() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops.hll_sql("events", "user_id")


QUERIES.update(
    {
        "streaming_hll_distinct": QuerySpec(
            streaming_hll_distinct, _streaming_hll_oracle()
        ),
    }
)


def streaming_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the count-min sketch — the addition-merged
    sketch streamed the way the max-merged HLL is: the <= 4096-cell
    counter matrix is complete-mode state (token counts partial-agg
    within each micro-batch, cells summed into the standing sketch),
    bounded regardless of stream length. Probe estimates are computed
    over the drained sink exactly as in the batch query; the oracle is
    the batch CMS twin restricted to the estimate column, so streamed
    frequency estimates are value-checked against DuckDB."""
    from multi_report_etl_pipeline_spark import streaming
    from multi_report_etl_pipeline_spark.queries import llm_ops

    docs = streaming.read_documents_stream(spark, sf_dir)
    cells = (
        docs.select(F.explode(F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        )).alias("token"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("r"),
                            llm_ops._cms_pos(F.col("token"), j).alias("p"),  # noqa: SLF001
                        )
                        for j in range(llm_ops._CMS_DEPTH)  # noqa: SLF001
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.p").alias("p"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    streaming.run_available_now(
        cells, "q_stream_cms", "complete", shuffle_partitions=8
    )  # state <= 4096 CMS cells: bounded drain partitions
    sketch = spark.table("q_stream_cms")
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in llm_ops._CMS_PROBES])  # noqa: SLF001
        ).alias("token")
    )
    pcells = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"),
                        llm_ops._cms_pos(F.col("token"), j).alias("p"),  # noqa: SLF001
                    )
                    for j in range(llm_ops._CMS_DEPTH)  # noqa: SLF001
                ]
            )
        ).alias("cell"),
    ).select("token", F.col("cell.r").alias("r"), F.col("cell.p").alias("p"))
    return (
        pcells.join(F.broadcast(sketch), ["r", "p"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
        .orderBy("token")
    )


def _streaming_cms_oracle() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops

    sql = llm_ops._cms_sql()  # noqa: SLF001
    return sql.replace(
        "SELECT token, exact_count, cms_estimate",
        "SELECT token, cms_estimate",
    )


QUERIES.update(
    {
        "streaming_cms_frequencies": QuerySpec(
            streaming_cms_frequencies, _streaming_cms_oracle()
        ),
    }
)


def streaming_binned_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the portable histogram-quantile sketch,
    completing the streamed sketch trio (HLL = max-merge, CMS =
    add-merge, histogram = add-merge): per-bin counts are complete-mode
    state — <= nbins rows regardless of stream length — under FROZEN
    bin bounds (the offline-fit artifact pattern shared with the LM /
    logreg streaming twins: a histogram deployment fixes its binning
    before the stream starts; here the bounds are the batch query's
    min/max artifact). The drained histogram feeds
    the SAME interpolation as the batch query under the SAME oracle, so
    streamed percentiles are value-checked against DuckDB."""
    from multi_report_etl_pipeline_spark import streaming
    from multi_report_etl_pipeline_spark.queries import llm_ops

    mn, mx = llm_ops.events_value_bounds(spark, sf_dir) or (0.0, 1.0)
    nb = llm_ops._QBINS  # noqa: SLF001
    width = (mx - mn) / float(nb)
    st = streaming.read_events_stream(spark, sf_dir)
    hist = (
        st.select(
            F.least(
                F.floor((F.col("value") - F.lit(mn)) / F.lit(width)).cast("long"),
                F.lit(nb - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    streaming.run_available_now(
        hist, "q_stream_pctl", "complete", shuffle_partitions=8
    )  # state <= nbins histogram rows: bounded drain partitions
    sink = spark.table("q_stream_pctl")
    cum = sink.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "n",
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    agged = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.struct("bin", "cum", "cnt", "n"),
                )
            ).alias(f"h{i}")
            for i, q in enumerate(llm_ops._QUANTS)  # noqa: SLF001
        ]
    )
    sel = []
    for i, q in enumerate(llm_ops._QUANTS):  # noqa: SLF001
        h = f"h{i}"
        est = F.lit(mn) + F.lit(width) * (
            F.col(f"{h}.bin").cast("double")
            + (
                F.ceil(F.lit(q) * F.col(f"{h}.n"))
                - (F.col(f"{h}.cum") - F.col(f"{h}.cnt"))
            ).cast("double")
            / F.col(f"{h}.cnt").cast("double")
        )
        sel.append(F.round(est, 6).alias(llm_ops._QLABELS[q]))  # noqa: SLF001
    return agged.select(*sel)


def _streaming_pctl_oracle() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops.BINNED_PCTL_SQL


QUERIES.update(
    {
        "streaming_binned_percentiles": QuerySpec(
            streaming_binned_percentiles, _streaming_pctl_oracle()
        ),
    }
)


def user_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from an event stream: per-user
    event_type history as [valid_from, valid_to) validity ranges with an
    is_current flag — the standard warehouse change-capture operator
    (detect changes with LAG, close ranges with LEAD).

    Scale: both windows partition on user_id and the second runs over
    CHANGE rows only (already collapsed), so the expensive pass is one
    shuffle + per-user sort of (user_id, ts, event_id, type) — the
    narrowest projection possible. Per-user data is human-scale by
    domain; a pathological hot user would need the same range-join
    salting as any single-key window. Microsecond-precision formatting
    keeps the oracle string-exact.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


SCD2_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
), changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered
    WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       STRFTIME(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           AS is_current
FROM changes
"""


QUERIES.update(
    {
        "events_user_scd2": QuerySpec(user_scd2_history, SCD2_SQL),
    }
)


def streaming_user_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_user_scd2: SCD type-2 change capture as
    an arbitrary-stateful operator (streaming.scd2_stream — per-user
    state is the one OPEN validity interval, closed intervals are
    emitted append-mode as they materialize). Drained with availableNow;
    the drained intervals must equal the batch LAG/LEAD build restricted
    to CLOSED intervals (the open interval per user IS the state, and an
    append sink can only carry immutable facts — so the oracle filters
    valid_to IS NOT NULL and is_current is identically false here)."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.scd2_stream(st), "q_stream_scd2", "append"
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return spark.table("q_stream_scd2").select(
        "user_id",
        "event_type",
        F.date_format(F.timestamp_micros("valid_from_us"), fmt).alias("valid_from"),
        F.date_format(F.timestamp_micros("valid_to_us"), fmt).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )


STREAM_SCD2_SQL = (
    "SELECT user_id, event_type, valid_from, valid_to, is_current FROM ("
    + SCD2_SQL
    + ") WHERE valid_to IS NOT NULL"
)


QUERIES.update(
    {
        "streaming_user_scd2": QuerySpec(streaming_user_scd2, STREAM_SCD2_SQL),
    }
)


def streaming_user_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of streaming_user_scd2: the live dimension view.
    streaming.scd2_current_stream re-emits each user's OPEN validity
    interval (update mode) whenever a batch changes it; an
    update-capable sink keeps only the newest row per user. The memory
    sink drained here is append-only, so the query applies the sink-side
    fold explicitly: max_by over (valid_from_us, from_event_id) — valid
    because a segment start only moves forward per user, making "latest"
    a deterministic max, not a sink-order artifact. Oracle: the batch
    LAG/LEAD SCD2 build restricted to the is_current row per user."""
    from multi_report_etl_pipeline_spark import streaming

    st = streaming.read_events_stream(spark, sf_dir)
    streaming.run_available_now(
        streaming.scd2_current_stream(st), "q_stream_scd2_cur", "update"
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    latest = (
        spark.table("q_stream_scd2_cur")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("valid_from_us", "event_type"),
                F.struct("valid_from_us", "from_event_id"),
            ).alias("cur")
        )
    )
    return latest.select(
        "user_id",
        F.col("cur.event_type").alias("event_type"),
        F.date_format(
            F.timestamp_micros(F.col("cur.valid_from_us")), fmt
        ).alias("valid_from"),
        F.lit(True).alias("is_current"),
    )


STREAM_SCD2_CURRENT_SQL = (
    "SELECT user_id, event_type, valid_from, is_current FROM ("
    + SCD2_SQL
    + ") WHERE valid_to IS NULL"
)


QUERIES.update(
    {
        "streaming_user_scd2_current": QuerySpec(
            streaming_user_scd2_current, STREAM_SCD2_CURRENT_SQL
        ),
    }
)


def streaming_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of emb_int8_topk — the ANN SERVING loop: query
    vectors arrive as a file stream and are answered per micro-batch
    against the static int8-quantized corpus (the frozen index side,
    fully distributed — nothing about the corpus crosses the driver).
    foreachBatch runs the exact batch pipeline per arrival batch
    (streaming.ann_serving_drain), so the drained union of per-batch
    answers is bit-identical to the batch query and sits under the SAME
    value oracle; per-batch independence (each query answered once, in
    whichever batch it arrives) is additionally pinned by the two-file
    split test in tests/test_streaming.py."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.io import fan_out, read_table  # noqa: PLC0415

    corpus = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    # the batch twin's query set is bounded by contract (the
    # _TOPK_MAX_Q lowest qualifying vec_ids); a stream can't ORDER BY,
    # so the serving loop pins the same window as an id threshold
    # computed once from the static corpus at index-build time (one
    # 1-row driver scalar, corpus-size-independent)
    from multi_report_etl_pipeline_spark.queries.llm_ops import (  # noqa: PLC0415
        _TOPK_MAX_Q,
    )

    thr_row = (
        corpus.filter((F.col("vec_id") % 100) == 0)
        .orderBy("vec_id")
        .limit(_TOPK_MAX_Q)
        .agg(F.max("vec_id").alias("thr"))
        .collect()[0]
    )
    q_stream = streaming.read_embeddings_stream(spark, sf_dir).filter(
        ((F.col("vec_id") % 100) == 0) & (F.col("vec_id") <= F.lit(thr_row.thr))
    )
    pdf = streaming.ann_serving_drain(q_stream, corpus, k=10)
    return spark.createDataFrame(
        pdf, schema="q_id long, rank int, c_id long, int8_cosine double"
    )


def _stream_ann_oracle_sql() -> str:
    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    return llm_ops.INT8_TOPK_SQL  # same oracle as the batch twin


QUERIES.update(
    {
        "streaming_ann_topk": QuerySpec(streaming_ann_topk, _stream_ann_oracle_sql()),
    }
)
