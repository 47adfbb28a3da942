"""Grouped-analytics query pack (SURVEY.md §2.9 "grouped analytics beyond
reference"): aggregations, multi-way joins, top-k, ranking windows,
rollup/cube, distinct counts — over the TPC-H-ish tables.

Numeric determinism convention (hash-matched against DuckDB): money math
is done on DECIMAL(18,2) casts, never raw doubles — decimal sums are
exact and order-independent, so Spark's parallel partial aggregation and
DuckDB's single-threaded sum agree bit-for-bit. Final non-integer output
columns are then CAST to DOUBLE **on both sides**: the driver's oracle
path materializes DuckDB results through pandas, which collapses DECIMAL
to float64 (dropping trailing-zero scale, '4792710.90' -> '4792710.9'),
so a DECIMAL output column hash-mismatches even when values are equal.
exact-decimal -> nearest-double is a pure function (identical bits on
both engines for unscaled values < 2^53, which holds at the driver's
sf=0.01 gate), and NULL becomes NaN on both sides.

Scale notes: all dimension joins (region/nation/supplier/customer) are
explicit ``F.broadcast`` — at 100 TB the fact tables shuffle only for the
final groupBy, and AQE handles skew. Top-k uses sort+limit, which Spark
executes as TakeOrderedAndProject (per-partition heap, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark.io import read_table
from multi_report_etl_pipeline_spark.queries import QuerySpec


def _shj_hint(
    df: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    table: str = "lineitem",
    gate_bytes: int = 1 << 30,
    layout: str = "flat",
) -> DataFrame:
    """SHUFFLE_HASH hint, gated on fact-file size (the same stats-based
    planner-decision pattern as customer_rfm_segments' strategy pick).

    The quiet-harness sf100 A/B (BASELINE.md round 8) settled r7's
    SMJ-vs-SHJ question: q3 25.08 s SMJ vs 17.86 s SHJ min (1.40x,
    consistent across fresh JVMs), q10 13.23 vs 12.23 — eliminating
    the two big sorts is real once the fact shuffles dominate. An
    explicit hint is honored by AQE RE-planning too (measured at
    sf0.01: the hinted join stays SHJ instead of converting to
    broadcast), so the hint must be size-gated rather than left to
    runtime conversion — below the gate the planner's own broadcast /
    SMJ choice stands unchanged. Gate: the named fact file over 1 GB
    (sf10's 1.37 GB lineitem is the smallest scale that clears it).

    ``layout="bucketed"``: the hint is suppressed — both fact sides are
    already hash-partitioned by the bucket layout, so SortMergeJoin
    runs with NO exchange and NO sort (SORTED BY, one file per bucket),
    and a SHUFFLE_HASH hint would only replace the free merge with a
    per-bucket hash build."""
    import os  # noqa: PLC0415

    if layout == "bucketed":
        return df
    path = os.path.join(sf_dir, table + ".parquet")
    try:
        if os.path.isdir(path):
            # directory-layout parquet: getsize on the dir entry is
            # ~4 KB and would silently drop the hint at every scale
            sz = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            sz = os.path.getsize(path)
    except OSError:
        sz = 0
    if sz <= gate_bytes:
        return df
    return df.hint("shuffle_hash")

def _fact(
    spark: SparkSession, sf_dir: str, table: str, layout: str = "flat"
) -> DataFrame:
    """Fact-table scan under the chosen physical layout. ``flat`` reads
    the plain parquet fixture; ``bucketed`` serves from the persisted
    hash-bucketed layout (operators/layout.bucket_facts — the Spark
    port of the reference's CREATE INDEX, 01_staging_layer.sql:13-14),
    building it on first touch of a new fixture fingerprint. Queries
    default to ``flat``; the bucketed arms are opt-in per query (the
    ``*_bucketed`` registry rows)."""
    if layout == "bucketed" and table in ("lineitem", "orders"):
        from multi_report_etl_pipeline_spark.operators.layout import (  # noqa: PLC0415
            bucket_facts,
        )

        names = bucket_facts(spark, sf_dir)
        return spark.table(names[table])
    return read_table(spark, sf_dir, table)


DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(DEC)


def q1_pricing_summary(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures.

    The plan to want at 100 TB: Parquet scan with shipdate pushed down ->
    partial hash agg (map-side) -> exchange on 2 low-cardinality keys ->
    final agg. No sort until the tiny result. No fan_out here: a
    round-robin repartition of full-width fact rows costs ~3x the entire
    single-task aggregation (measured at sf0.1), because partial
    aggregation already collapses the scan to 6 groups map-side.

    Money math runs in fixed-point LONG cents rather than DECIMAL: the
    2-decimal inputs convert exactly (ROUND(x*100) is bit-identical on
    both engines), long sums stay inside whole-stage codegen (measured
    2.5x faster than Spark's boxed Decimal sum at sf0.1), and results
    are order-independent like decimal. Precision budget: the charge
    accumulator holds |price_c * (100-disc_c) * (100+tax_c)| < 2^37 per
    row, so int64 group sums are safe to 2^63/2^37 ≈ 6.7e7 rows per
    group (≈ sf10 for TPC-H's 6-group Q1); beyond that switch the two
    product sums to DECIMAL(38) — and under ANSI mode (our default) an
    overflow raises rather than wrapping.

    ``layout="bucketed"`` serves the scan from the persisted bucketed
    lineitem table — no plan change beyond the scan; the candidate win
    is the same
    row-group-geometry effect the grouping-sets A/B measured (round
    10), probed for q1 in round 11 (VERDICT r10 item 6).
    """
    li = _fact(spark, sf_dir, "lineitem", layout)
    # x*100 + 0.5 truncated == ROUND(x*100) half-up for these strictly
    # positive 2dp inputs (x*100 lands within 1 ulp of an integer, never
    # at an exact .5), but skips Spark's per-row BigDecimal ROUND —
    # measured 0.39 s -> 0.26 s on q1 at sf1, value-identical (and the
    # DuckDB oracle still spells it ROUND). ANSI mode still raises on a
    # genuinely out-of-range cast.
    qc = F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)")
    pc = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")
    dc = F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    tc = F.expr("CAST(l_tax * 100 + 0.5 AS BIGINT)")
    # compare on the native timestamp (ts < day+1), not cast(date): casting
    # the column would block parquet predicate pushdown / row-group pruning
    return (
        li.filter(F.col("l_shipdate") < F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            qc.alias("qc"),
            pc.alias("pc"),
            dc.alias("dc"),
            (pc * (100 - dc)).alias("dpc"),  # disc price, scale 4
            (pc * (100 - dc) * (100 + tc)).alias("chc"),  # charge, scale 6
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qc") / F.lit(100.0)).alias("sum_qty"),
            (F.sum("pc") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum("dpc") / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum("chc") / F.lit(1000000.0)).alias("sum_charge"),
            F.round(F.sum("qc") / F.lit(100.0) / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(F.sum("pc") / F.lit(100.0) / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum("dc") / F.lit(100.0) / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT
    l_returnflag,
    l_linestatus,
    SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) / 1000000.0 AS sum_charge,
    ROUND(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_qty,
    ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_price,
    ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + grouped revenue + top-10.

    Join order propagates the BUILDING filter into orders BEFORE the
    orderkey join (the round-3 sf1 measurement showed the old
    lineitem-first order shuffling 5x more orders rows than survive):
    customer/5 prunes orders to ~1/5, projected to 3 narrow columns, so
    the only data-proportional join sees a pre-pruned build side.

    The pruning is a LEFT SEMI join deliberately: without CBO, an inner
    join's sizeInBytes estimate is the PRODUCT of its children, which
    makes the pruned-orders subtree look enormous and flips Catalyst
    into statically broadcasting the lineitem side instead (measured:
    0.7 s -> 9.9 s at sf1). A semi join keeps the estimate at the
    orders table's own (file-size-proportional) stats, so Catalyst
    broadcasts the pruned orders at bench SF and falls back to a
    pre-pruned shuffle join once the files outgrow the threshold —
    no forced hint on any data-proportional side. Top-10 via
    TakeOrderedAndProject.

    Round 8: at fact scale the two non-broadcast joins carry
    SHUFFLE_HASH hints on their build sides via the size-gated
    ``_shj_hint`` (sf100 quiet-harness A/B: 25.08 s SMJ vs 17.86 s SHJ
    — see the helper's docstring for the evidence and why the gate,
    not AQE conversion, protects the small-SF broadcast plan). Build
    sides stay the smaller inputs (pruned customer keys; the
    date+segment-pruned orders), so the per-partition hash map is
    bounded by the SMALL side's partition share at any scale.

    ``layout="bucketed"`` (round 9): both facts serve from the
    persisted orderkey-bucketed layout (_fact), and the customer
    pruning switches from a custkey SHUFFLE (which would destroy the
    orders scan's bucket partitioning before the orderkey join) to a
    forced broadcast of the single pruned key column — one bounded
    broadcast buys a plan with NO fact exchange at all: bucketed scan
    ⋈ bucketed scan zip on orderkey, the groupBy reuses the same
    partitioning, TakeOrdered caps the result. Pinned in
    tests/test_plans.py.
    """
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    prune = (
        F.broadcast(cust)
        if layout == "bucketed"
        else _shj_hint(cust, spark, sf_dir)
    )
    orders = (
        _fact(spark, sf_dir, "orders", layout)
        .filter(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(
            prune,
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = _fact(spark, sf_dir, "lineitem", layout).filter(
        F.col("l_shipdate") >= F.lit("1998-01-02 00:00:00").cast("timestamp")
    )
    # revenue in long cents (scale 4), the q1 convention: the DECIMAL
    # product here is precision-37, which leaves Spark's long-backed
    # fast Decimal for boxed BigDecimal per row — cents keep the agg in
    # whole-stage codegen (sf1 A/B: 0.739 -> 0.689 s, value-identical;
    # BASELINE.md round-5). Per-row dpc < 2^37 and groups are single
    # orders, so int64 never overflows; ANSI raises if inputs lie.
    revenue_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    return (
        li.join(
            _shj_hint(orders, spark, sf_dir, layout=layout),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg((F.sum(revenue_c4) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT
    l_orderkey,
    strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
    o_orderpriority,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with join-filter propagation.

    The round-2 plan joined the full lineitem to the full orders before
    any region pruning touched either — the sf1 measurement put it 22x
    behind DuckDB, whose join-filter propagation prunes both fact scans
    to the ASIA fifth. This plan expresses that pruning declaratively:
    region⋈nation resolves to the 5 ASIA nation keys (constant-size
    broadcast at any SF), supplier / customer / orders pre-prune
    against them, and lineitem joins only pre-pruned sides — so every
    data-proportional join sees its build side already cut ~5x and
    projected narrow.

    Every pruning step is a LEFT SEMI join deliberately: without CBO an
    inner join's sizeInBytes estimate is the PRODUCT of its children,
    so an inner-join pruning subtree looks enormous to the planner and
    flips Catalyst into statically broadcasting the fact side
    (measured on q3: 0.7 s -> 9.9 s at sf1). Semi joins keep each
    pruned table's estimate at its own file-proportional stats:
    Catalyst broadcasts the pruned orders/supplier/customer sides at
    bench SF and degrades to pre-pruned shuffle joins once the files
    outgrow the threshold. Only the constant-size nation/region sides
    carry forced broadcast hints.

    Round 8: at fact scale (the 1 GB ``_shj_hint`` gate) the four
    non-broadcast joins carry SHUFFLE_HASH hints on their pruned build
    sides — quiet-harness sf100 A/B: 21.99/25.97 s SMJ vs 17.15/20.0 s
    SHJ across two fresh JVMs (1.28x on mins, SHJ won every pairing).
    Below the gate the semi-join broadcast plan is bit-unchanged.

    ``layout="bucketed"`` (round 9): both facts serve from the
    orderkey-bucketed layout and the orders-side custkey SEMI-PRUNE IS
    DROPPED — a custkey shuffle would destroy the bucket partitioning
    the orderkey join exists to exploit, and the final inner
    orders⋈customer join (against the ASIA-pruned customer) enforces
    the same predicate, so results are identical. The trade: the
    orderkey merge sees the full orders table but pays NO exchange on
    either fact; the custkey shuffle moves downstream to the joined
    (supplier-pruned) rows.
    """
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    # 5 rows: the ASIA nation keys + display names
    asia = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    asia_keys = asia.select("n_nationkey")
    supplier = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(asia_keys),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_nationkey")
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_keys),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey", "c_nationkey")
    )
    orders = _fact(spark, sf_dir, "orders", layout)
    if layout != "bucketed":
        orders = orders.join(
            _shj_hint(cust, spark, sf_dir),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
    orders = orders.select("o_orderkey", "o_custkey")
    li = _fact(spark, sf_dir, "lineitem", layout).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # long-cents revenue, q1/q3 convention (codegen-friendly, exact,
    # value-identical to the decimal form — sf1 A/B in BASELINE.md).
    # Budget: per-row < 2^37, per-nation sums stay under 2^63 through
    # ~sf100; ANSI raises on overflow rather than wrapping.
    revenue_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    return (
        # supplier stays UN-hinted: the pruned supplier side is
        # broadcast in the default sf100 plan, and a SHUFFLE_HASH hint
        # would force a full lineitem shuffle on l_suppkey (measured:
        # the all-hinted variant ran 46 s vs 22.9 un-hinted — hint ONLY
        # the joins that actually plan as SMJ at fact scale)
        li.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            _shj_hint(orders, spark, sf_dir, layout=layout),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(_shj_hint(cust, spark, sf_dir), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg((F.sum(revenue_c4) / F.lit(10000.0)).alias("revenue"))
    )


Q5_SQL = """
SELECT
    n_name,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def orders_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by order volume: agg-below-join + deterministic top-k.

    Aggregation is pushed BELOW the join: orders pre-aggregates to one
    row per custkey (partial agg map-side, ~|customer| rows after), and
    only that reduced set joins customer for the display columns. The
    join input shrinks by the orders:customer ratio (10x here) and the
    join carries no wide fact rows — the shape that survives a 100x
    scale-up. Equivalent to joining first because o_custkey is a
    foreign key into customer's unique c_custkey (inner join neither
    drops nor duplicates groups). Top-20 via TakeOrderedAndProject.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # long-cents accumulator, not SUM(DECIMAL): the decimal sum promotes
    # to precision 28 and leaves the long-backed fast path — boxed
    # BigDecimal per row plus GC pressure at scale (sf10 interleaved
    # A/B: 1.53 vs 3.22 s min-of-3, with one decimal rep spiking to
    # 49 s under memory pressure). cents-sum/100.0 and decimal-sum are
    # both exact-then-one-rounding, so the emitted doubles are
    # bit-identical and the DuckDB twin keeps its SUM(DECIMAL) form.
    per_cust = orders.groupBy("o_custkey").agg(
        (
            F.sum(F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")).cast("double")
            / 100.0
        ).alias("total_spend"),
        F.count(F.lit(1)).alias("order_count"),
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "c_mktsegment", "total_spend", "order_count")
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TOP_CUSTOMERS_SQL = """
SELECT
    c_custkey, c_name, c_mktsegment,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
    COUNT(*) AS order_count
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2, 3
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 20
"""


def orders_top_customers_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orders_top_customers`` through the explicit skew-salted join
    (operators/skew.py) instead of the broadcast: the fact side is salted
    n-ways and the dim side replicated, the shape for a
    broadcast-ineligible dimension on a skewed key. Same oracle as the
    plain variant — salting must be invisible in the result."""
    from multi_report_etl_pipeline_spark.operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust, on="c_custkey",
        n_salts=8,
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            # same long-cents form as the plain variant (see its comment)
            (
                F.sum(
                    F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
                ).cast("double")
                / 100.0
            ).alias("total_spend"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q14_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact⋈dim join —
    per-month revenue share of one part class (CASE numerator over the
    same sum's denominator). The join carries only (p_partkey, p_type);
    no forced broadcast — file stats broadcast the part side at bench SF
    and a shuffle join takes over when part outgrows the threshold.
    Sums stay exact DECIMAL until the final double division, so the
    share is bit-identical on both engines."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    economy = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(economy).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("economy_share"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


Q14_SQL = """
SELECT
    strftime(l_shipdate, '%Y-%m') AS ship_month,
    ROUND(100.0
        * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        6) AS economy_share,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def lineitem_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (rank / dense_rank / lag / lead) per order — the
    analytic-function family the reference lacks (SURVEY.md §2.6)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_shipdate").asc(), F.col("l_linenumber").asc()
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate"),
        _dec("l_quantity").cast("double").alias("quantity"),
        F.row_number().over(w).alias("ship_seq"),
        F.rank().over(w).alias("ship_rank"),
        F.lag(_dec("l_quantity"), 1).over(w).cast("double").alias("prev_qty"),
        F.lead(_dec("l_quantity"), 1).over(w).cast("double").alias("next_qty"),
        F.sum(_dec("l_quantity"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_qty"),
    )


WINDOW_RANK_SQL = """
SELECT
    l_orderkey,
    l_linenumber,
    strftime(l_shipdate, '%Y-%m-%d') AS shipdate,
    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
    ROW_NUMBER() OVER w AS ship_seq,
    RANK() OVER w AS ship_rank,
    CAST(LAG(CAST(l_quantity AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_qty,
    CAST(LEAD(CAST(l_quantity AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS next_qty,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        PARTITION BY l_orderkey ORDER BY l_shipdate ASC, l_linenumber ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS DOUBLE) AS running_qty
FROM lineitem
WHERE l_orderkey % 100 = 0
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_shipdate ASC, l_linenumber ASC)
"""


def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal/grand-total rows.

    Two-stage shape: ONE plain hash aggregate at the finest grain
    first, then the rollup Expand runs over the |groups|-row aggregate
    instead of the corpus. Spark expands BEFORE the partial agg, so the
    naive form pushes |sets| x corpus rows through the aggregation
    loop; pre-aggregating cuts that to 1x + |sets| x |groups|
    (value-identical: COUNT re-aggregates as SUM of counts, SUM of
    exact decimals is associative — oracle row pins it; sf10 A/B in
    BASELINE.md round-6 late)."""
    li = read_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_dec("l_quantity")).alias("_q"),
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("cnt"),
        F.sum("_q").cast("double").alias("sum_qty"),
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations.
    Same two-stage finest-grain pre-aggregation as lineitem_rollup (the
    cube's 4-way Expand runs over the tiny aggregate, not the corpus)."""
    li = read_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_dec("l_extendedprice")).alias("_p"),
    )
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("cnt"),
        F.sum("_p").cast("double").alias("sum_price"),
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count aggregates (the hash-matchable counterpart of
    approx_count_distinct, which lives in llm_ops as a rows-only query)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("distinct_flag_status"),
    )


DISTINCT_SQL = """
SELECT
    COUNT(DISTINCT l_orderkey) AS distinct_orders,
    COUNT(DISTINCT l_partkey) AS distinct_parts,
    COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
    COUNT(DISTINCT (l_returnflag, l_linestatus)) AS distinct_flag_status
FROM lineitem
"""


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit LEFT SEMI + LEFT ANTI (the reference only has the
    left-join-as-existence-probe idiom; these are the first-class forms)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    urgent_with_lines = orders.filter(F.col("o_orderpriority") == "1-URGENT").join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    )
    no_lines = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
    return urgent_with_lines.agg(F.count(F.lit(1)).alias("urgent_with_lines")).crossJoin(
        no_lines.agg(F.count(F.lit(1)).alias("orders_without_lines"))
    )


SEMI_ANTI_SQL = """
SELECT
    (SELECT COUNT(*) FROM orders WHERE o_orderpriority = '1-URGENT'
       AND o_orderkey IN (SELECT l_orderkey FROM lineitem)) AS urgent_with_lines,
    (SELECT COUNT(*) FROM orders
       WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)) AS orders_without_lines
"""


def q3_shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3 served from the persisted orderkey-BUCKETED fact layout
    (operators/layout.bucket_facts — the Spark port of the reference's
    CREATE INDEX, 01_staging_layer.sql:13-14): the li⋈orders join zips
    bucket-for-bucket with NO exchange and no sort, and the revenue
    groupBy reuses the same partitioning, so the whole query runs
    shuffle-free — the physical design a 100 TB deployment writes at
    ingest so every orderkey join downstream is free. Values are
    identical to tpch_q3_shipping_priority (same oracle).

    sf100 quiet-harness A/B (round 9, interleaved arms, 2 fresh JVMs):
    15.75 s flat -> 9.64 s bucketed (1.63x, consistent across JVMs)."""
    return q3_shipping_priority(spark, sf_dir, layout="bucketed")


def q5_local_supplier_volume_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q5 on the bucketed fact layout: no exchange on either fact side
    of the orderkey join; the custkey semi-prune is dropped (see
    q5_local_supplier_volume docstring). sf100 quiet A/B (round 9):
    13.95 s flat -> 10.49 s bucketed (1.33x)."""
    return q5_local_supplier_volume(spark, sf_dir, layout="bucketed")


def q9_product_type_profit_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 served from TWO persisted layouts — lineitem bucketed on the
    COMPOSITE (l_partkey, l_suppkey) and orders on o_orderkey — so
    BOTH fact shuffles are gone: the li⋈partsupp join zips on the
    composite buckets and the orders join keeps its bucket
    partitioning (the multi-index analog: per-query layout choice over
    multiple bucketings of one table). Round-10 adjudication of the
    late-r9 plan change (VERDICT r9 item 1), sf100 quiet A/Bs, one
    sitting: flat 29.27 s -> orders-layout-only 16.87 s (the r9 arm)
    -> composite+orders 8.19 s (3.5x over flat; the composite layout
    alone buys 2.06x). Fresh-JVM ledger pairing, same sitting: 7.76 s
    vs DuckDB 9.20 = 0.84x — a WIN (probe ratio 1.08)."""
    return q9_product_type_profit(spark, sf_dir, layout="bucketed")


def q1_pricing_summary_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1 served from the persisted bucketed lineitem layout (round 11,
    VERDICT r10 item 6): q1 joins nothing, so the win is pure ROW-GROUP
    GEOMETRY — the same effect lineitem_grouping_sets_bucketed measured
    (flat fixture: 4,883 ~123k-row groups; bucketed table: 64
    one-per-bucket files with Spark-written 128 MB row groups, fewer
    and dictionary-coherent for the 7-column decode). sf100 interleaved
    A/B (2 JVMs x A B B A, 48g/tmpfs sitting, BASELINE.md round 11):
    flat 7.45/6.99 -> bucketed 6.87/5.93 min-of-3 = **1.18x**,
    consistent across JVMs. Values identical — shares the flat oracle."""
    return q1_pricing_summary(spark, sf_dir, layout="bucketed")


def q10_returned_items_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q10 on the bucketed fact layout: the returnflag/date-filtered
    fact scans zip on orderkey with no exchange; only post-aggregate
    custkey rows shuffle. sf100 quiet A/B (round 9): 10.47 s flat ->
    6.03 s bucketed (1.74x)."""
    return q10_returned_items(spark, sf_dir, layout="bucketed")


QUERIES: dict[str, QuerySpec] = {
    "tpch_q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "tpch_q1_bucketed": QuerySpec(q1_pricing_summary_bucketed, Q1_SQL),
    "tpch_q3_bucketed": QuerySpec(q3_shipping_priority_bucketed, Q3_SQL),
    "tpch_q5_bucketed": QuerySpec(q5_local_supplier_volume_bucketed, Q5_SQL),
    "tpch_q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "tpch_q5_local_supplier_volume": QuerySpec(q5_local_supplier_volume, Q5_SQL),
    "tpch_q14_type_share": QuerySpec(q14_type_share, Q14_SQL),
    "orders_top_customers": QuerySpec(orders_top_customers, TOP_CUSTOMERS_SQL),
    "orders_top_customers_salted": QuerySpec(
        orders_top_customers_salted, TOP_CUSTOMERS_SQL
    ),
    "lineitem_window_rank": QuerySpec(lineitem_window_rank, WINDOW_RANK_SQL),
    "lineitem_rollup": QuerySpec(lineitem_rollup, ROLLUP_SQL),
    "lineitem_cube": QuerySpec(lineitem_cube, CUBE_SQL),
    "lineitem_distinct_counts": QuerySpec(distinct_counts, DISTINCT_SQL),
    "orders_semi_anti_join": QuerySpec(semi_anti_join, SEMI_ANTI_SQL),
}


def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference, SURVEY.md §2.6):
    INTERSECT / EXCEPT / UNION over customer key sets."""
    orders = read_table(spark, sf_dir, "orders")
    building = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("k"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    both = building.intersect(urgent)
    only_building = building.exceptAll(urgent.distinct())
    any_of = building.union(urgent).distinct()
    return (
        both.agg(F.count(F.lit(1)).alias("building_and_urgent"))
        .crossJoin(only_building.agg(F.count(F.lit(1)).alias("building_not_urgent")))
        .crossJoin(any_of.agg(F.count(F.lit(1)).alias("building_or_urgent")))
    )


SET_OPS_SQL = """
WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT
    (SELECT COUNT(*) FROM (SELECT k FROM building INTERSECT SELECT k FROM urgent)) AS building_and_urgent,
    (SELECT COUNT(*) FROM (SELECT k FROM building EXCEPT SELECT DISTINCT k FROM urgent)) AS building_not_urgent,
    (SELECT COUNT(*) FROM (SELECT k FROM building UNION SELECT k FROM urgent)) AS building_or_urgent
"""


QUERIES["customer_set_ops"] = QuerySpec(customer_set_ops, SET_OPS_SQL)


# ------------------------------------------------------------ subqueries ---
# Declared via spark.sql so Catalyst's subquery decorrelation is part of
# the tested surface (correlated aggregate, NOT EXISTS, scalar subquery).


def _register(spark: SparkSession, sf_dir: str) -> None:
    from multi_report_etl_pipeline_spark.io import register_tables

    register_tables(spark, sf_dir, ("customer", "orders", "lineitem", "part"))


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subqueries -> decorrelated into joins by
    Catalyst; rows where an order beats 1.5x its customer's own average.

    The threshold test ``o > 1.5 * avg`` is rewritten to the equivalent
    ``2 * o * count > 3 * sum`` so membership is decided in exact
    decimal/integer arithmetic — an AVG over doubles is summation-order
    dependent and can flip borderline rows between engines."""
    _register(spark, sf_dir)
    return spark.sql(ABOVE_AVG_SQL)


ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
FROM orders o
WHERE 2 * CAST(o_totalprice AS DECIMAL(18,2)) * (
        SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
      ) > 3 * (
        SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
      )
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join form."""
    _register(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """
    )


NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def parts_at_max_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery."""
    _register(spark, sf_dir)
    return spark.sql(
        "SELECT p_partkey, p_name, p_size FROM part "
        "WHERE p_size = (SELECT MAX(p_size) FROM part)"
    )


MAX_SIZE_SQL = (
    "SELECT p_partkey, p_name, p_size FROM part "
    "WHERE p_size = (SELECT MAX(p_size) FROM part)"
)


QUERIES.update(
    {
        "orders_above_customer_avg": QuerySpec(orders_above_customer_avg, ABOVE_AVG_SQL),
        "customers_without_orders": QuerySpec(customers_without_orders, NO_ORDERS_SQL),
        "parts_at_max_size": QuerySpec(parts_at_max_size, MAX_SIZE_SQL),
    }
)


# -------------------------------------------------------- snapshot merge ---


def orders_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO analog (operators/snapshot.py): upsert + tombstone
    delete over an orders snapshot, as one partial-agg survivor pass.

    The update batch is derived deterministically from the same table so
    the oracle can rebuild it: every 7th order repriced +10.00 at
    version 2, and of those, every 13th tombstoned. The merged result
    must show version-2 prices for repriced keys, drop tombstoned keys,
    and keep everything else at version 1 — value-checked per row.
    """
    from multi_report_etl_pipeline_spark.operators.snapshot import (  # noqa: PLC0415
        merge_upsert,
    )

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        _dec("o_totalprice").alias("price"),
        F.lit(1).alias("version"),
        F.lit(False).alias("deleted"),
    )
    upd = orders.filter(F.expr("o_orderkey % 7 = 0")).select(
        "o_orderkey",
        (_dec("o_totalprice") + F.lit(10).cast(DEC)).cast(DEC).alias("price"),
        F.lit(2).alias("version"),
        F.expr("o_orderkey % 13 = 0").alias("deleted"),
    )
    merged = merge_upsert(
        base, upd, key_cols=["o_orderkey"], version_cols=["version"],
        tombstone_col="deleted",
    )
    return merged.select(
        "o_orderkey",
        F.col("price").cast("double").alias("total_price"),
        "version",
    )


SNAPSHOT_MERGE_SQL = """
WITH base AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           1 AS version, FALSE AS deleted, 0 AS src
    FROM orders
), upd AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(10 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS price,
           2 AS version, (o_orderkey % 13 = 0) AS deleted, 1 AS src
    FROM orders WHERE o_orderkey % 7 = 0
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM upd)
)
SELECT o_orderkey, CAST(price AS DOUBLE) AS total_price, version
FROM ranked WHERE rn = 1 AND NOT deleted
"""


QUERIES["orders_snapshot_merge"] = QuerySpec(orders_snapshot_merge, SNAPSHOT_MERGE_SQL)


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/snapshot.py snapshot_diff):
    full-outer key join + null-safe struct comparison classifying every
    key as added / removed / changed. The new snapshot is BUILT by
    merge_upsert from a deterministic batch (reprice every 7th order,
    tombstone every 91st, insert a shifted key for every 17th), so the
    query exercises the merge -> diff composition and the oracle can
    rebuild both sides."""
    from multi_report_etl_pipeline_spark.operators.snapshot import (  # noqa: PLC0415
        merge_upsert,
        snapshot_diff,
    )

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        _dec("o_totalprice").alias("price"),
        F.lit(1).alias("version"),
        F.lit(False).alias("deleted"),
    )
    repriced = orders.filter(F.expr("o_orderkey % 7 = 0")).select(
        "o_orderkey",
        (_dec("o_totalprice") + F.lit(10).cast(DEC)).cast(DEC).alias("price"),
        F.lit(2).alias("version"),
        F.expr("o_orderkey % 13 = 0").alias("deleted"),
    )
    inserts = orders.filter(F.expr("o_orderkey % 17 = 0")).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        _dec("o_totalprice").alias("price"),
        F.lit(2).alias("version"),
        F.lit(False).alias("deleted"),
    )
    merged = merge_upsert(
        base, repriced.unionByName(inserts),
        key_cols=["o_orderkey"], version_cols=["version"], tombstone_col="deleted",
    )
    diff = snapshot_diff(
        base.select("o_orderkey", "price"),
        merged.select("o_orderkey", "price"),
        key_cols=["o_orderkey"],
        compare_cols=["price"],
    )
    return diff.select(
        "o_orderkey",
        "change",
        F.col("old_price").cast("double").alias("old_price"),
        F.col("new_price").cast("double").alias("new_price"),
    )


SNAPSHOT_DIFF_SQL = """
WITH base AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
), new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0
                THEN CAST(price + CAST(10 AS DECIMAL(18,2)) AS DECIMAL(18,2))
                ELSE price END AS price
    FROM base WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 13 = 0)
    UNION ALL
    SELECT o_orderkey + 10000000, price FROM base WHERE o_orderkey % 17 = 0
), joined AS (
    SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN b.price IS DISTINCT FROM n.price THEN 'changed'
                ELSE 'unchanged' END AS change,
           CAST(b.price AS DOUBLE) AS old_price,
           CAST(n.price AS DOUBLE) AS new_price
    FROM base b FULL OUTER JOIN new n ON b.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, change, old_price, new_price
FROM joined WHERE change <> 'unchanged'
"""


QUERIES["orders_snapshot_diff"] = QuerySpec(orders_snapshot_diff, SNAPSHOT_DIFF_SQL)


# Fixed (SF-agnostic) quantile edges for the lifecycle layout below:
# the oracle SQL is static text, so the z-order bucketing must not
# depend on data-derived approxQuantile output. 3 edges per column =
# bits=2 (4 buckets); balance across SFs doesn't matter for the value
# check (the skipping property is measured in tests/test_layout.py
# with real quantile boundaries).
_LIFECYCLE_EDGES_KEY = [37500.0, 150000.0, 600000.0]
_LIFECYCLE_EDGES_PRICE = [50000.0, 150000.0, 250000.0]


def orders_lifecycle_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full snapshot lifecycle as one driver-checked composition:
    merge_upsert applies a deterministic batch, snapshot_diff audits
    what changed, and the diff is physically laid out by write_zordered
    (operators/layout.py) into Morton-aligned parquet files. The
    returned manifest — per z-block row counts, change-type breakdown,
    and clustered-column min/max read back FROM THE WRITTEN FILES —
    goes under the DuckDB oracle, which recomputes the merge, the
    diff, the fixed-edge bucket ranks, and the 2-bit Morton interleave
    arithmetically. A bucketing, interleaving, block-cut, or write
    round-trip bug shifts rows across blocks and breaks the hash.

    Z-order columns: (o_orderkey, coalesce(new_price, old_price)) —
    coalesce keeps both clustered columns non-null for every change
    type, sidestepping engine-specific null-bucket conventions.
    """
    import os  # noqa: PLC0415
    import re as _re  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from multi_report_etl_pipeline_spark.operators import layout  # noqa: PLC0415

    diff = orders_snapshot_diff(spark, sf_dir).withColumn(
        "v", F.coalesce("new_price", "old_price")
    )
    bounds = {
        "o_orderkey": _LIFECYCLE_EDGES_KEY,
        "v": _LIFECYCLE_EDGES_PRICE,
    }
    path = os.path.join(
        tempfile.gettempdir(),
        "mre_spark_lifecycle_zorder_" + _re.sub(r"\W+", "_", sf_dir),
    )
    layout.write_zordered(
        diff, path, cols=["o_orderkey", "v"], n_files=4, bits=2,
        boundaries=bounds,
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("__zblock").cast("bigint").alias("zblock"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("change") == "added", 1)).alias("n_added"),
            F.count(F.when(F.col("change") == "removed", 1)).alias("n_removed"),
            F.count(F.when(F.col("change") == "changed", 1)).alias("n_changed"),
            F.min("o_orderkey").alias("min_okey"),
            F.max("o_orderkey").alias("max_okey"),
            F.round(F.min("v"), 2).alias("min_v"),
            F.round(F.max("v"), 2).alias("max_v"),
        )
    )


# Recomputes the lifecycle manifest arithmetically: bucket rank = count
# of fixed edges <= value; 2-bit Morton interleave of (key rank b0,
# price rank b1): z = b0bit0<<0 | b1bit0<<1 | b0bit1<<2 | b1bit1<<3;
# block = z >> 2 (n_files=4).
SNAPSHOT_LIFECYCLE_SQL = """
WITH base AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
), new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0
                THEN CAST(price + CAST(10 AS DECIMAL(18,2)) AS DECIMAL(18,2))
                ELSE price END AS price
    FROM base WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 13 = 0)
    UNION ALL
    SELECT o_orderkey + 10000000, price FROM base WHERE o_orderkey % 17 = 0
), diff AS (
    SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN b.price IS DISTINCT FROM n.price THEN 'changed'
                ELSE 'unchanged' END AS change,
           CAST(COALESCE(n.price, b.price) AS DOUBLE) AS v
    FROM base b FULL OUTER JOIN new n ON b.o_orderkey = n.o_orderkey
), changed AS (
    SELECT * FROM diff WHERE change <> 'unchanged'
), ranked AS (
    SELECT *,
      len(list_filter([37500.0, 150000.0, 600000.0],
                      e -> e <= CAST(o_orderkey AS DOUBLE))) AS b0,
      len(list_filter([50000.0, 150000.0, 250000.0], e -> e <= v)) AS b1
    FROM changed
), keyed AS (
    SELECT *,
      ((b0 % 2) * 1 + (b1 % 2) * 2 + ((b0 // 2) % 2) * 4 + ((b1 // 2) % 2) * 8)
          // 4 AS zblock
    FROM ranked
)
SELECT CAST(zblock AS BIGINT) AS zblock,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE change = 'added') AS n_added,
       COUNT(*) FILTER (WHERE change = 'removed') AS n_removed,
       COUNT(*) FILTER (WHERE change = 'changed') AS n_changed,
       MIN(o_orderkey) AS min_okey,
       MAX(o_orderkey) AS max_okey,
       ROUND(MIN(v), 2) AS min_v,
       ROUND(MAX(v), 2) AS max_v
FROM keyed GROUP BY 1
"""


QUERIES["orders_lifecycle_zorder"] = QuerySpec(
    orders_lifecycle_zorder, SNAPSHOT_LIFECYCLE_SQL
)


# ------------------------------------------------ entity resolution ---


def customer_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the customer master: pairs of customer
    names within 1 levenshtein edit, found by chunked-suffix blocking
    (operators/linkage.py) — narrow self-joins on (prefix, 2-char
    chunk) keys generate candidates, JVM levenshtein verifies. The
    blocking is pigeonhole-complete for substitution-style noise (the
    dominant error mode in structured identifiers); every step is
    deterministic string/int arithmetic, so the whole pipeline is
    value-oracled."""
    from multi_report_etl_pipeline_spark.operators import linkage  # noqa: PLC0415

    cust = read_table(spark, sf_dir, "customer")
    return linkage.fuzzy_self_matches(cust, "c_name", "c_custkey", max_dist=1)


FUZZY_MATCH_SQL = """
WITH base AS (
    SELECT c_custkey AS rid, c_name AS name,
           substr(c_name, 1, length(c_name) - 6) AS prefix,
           substr(c_name, length(c_name) - 6 + 1, 2) AS c0,
           substr(c_name, length(c_name) - 6 + 3, 2) AS c1,
           substr(c_name, length(c_name) - 6 + 5, 2) AS c2
    FROM customer WHERE length(c_name) > 6
),
cand AS (
    SELECT DISTINCT a.rid AS id_a, b.rid AS id_b,
           a.name AS name_a, b.name AS name_b
    FROM base a JOIN base b
      ON a.prefix = b.prefix AND a.rid < b.rid
     AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2)
)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS distance
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


QUERIES["customer_fuzzy_matches"] = QuerySpec(customer_fuzzy_matches, FUZZY_MATCH_SQL)


def lineitem_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + OLS regression of extendedprice
    on quantity — the statistical-aggregate family (CORR / REGR_SLOPE /
    REGR_INTERCEPT) computed from EXACT sufficient statistics rather
    than the engines' native float accumulators: the five co-moments
    (n, Σx, Σy, Σxy, Σx², Σy²) are summed in long/decimal CENTS (the
    q1 long-cents pattern), so partial-aggregation order cannot move a
    bit, and the closed-form stats are one identical IEEE expression
    over those exact integers in both engines — which is what makes a
    float-heavy aggregate value-oracle-able at all. Native F.corr /
    corr() would drift between engines at the last ulp under different
    partition orders.

    Scale: ONE partial-aggregated pass over lineitem projecting 2
    columns; the moment vector per group is 6 numbers, so the exchange
    carries |groups| x 6 cells. Overflow headroom: Σ(qc·pc) grows
    ~5e10/row — decimal(38,0) sums keep it exact to ~1e27 rows."""
    li = read_table(spark, sf_dir, "lineitem")
    qc = F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)")
    pc = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sx"),
        F.sum(pc).alias("sy"),
        F.sum((qc * pc).cast("decimal(38,0)")).alias("sxy"),
        F.sum((qc * qc).cast("decimal(38,0)")).alias("sxx"),
        F.sum((pc * pc).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = sxy - sx * sy / n
    var_x = sxx - sx * sx / n
    var_y = syy - sy * sy / n
    return agg.select(
        "l_returnflag",
        "n",
        F.round(sx / n / F.lit(100.0), 4).alias("avg_qty"),
        F.round(sy / n / F.lit(100.0), 4).alias("avg_price"),
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
        F.round(cov_n / var_x, 6).alias("regr_slope"),
        F.round((sy - cov_n / var_x * sx) / n / F.lit(100.0), 4).alias(
            "regr_intercept"
        ),
    ).orderBy("l_returnflag")


REGRESSION_STATS_SQL = """
WITH m AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sx,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sy,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
               * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxy,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
               * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sxx,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS syy
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS avg_qty,
       ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS avg_price,
       ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                         * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                         * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))),
             6) AS corr_qty_price,
       ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)),
             6) AS regr_slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                     / CAST(n AS DOUBLE))
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0,
             4) AS regr_intercept
FROM m
ORDER BY l_returnflag
"""


QUERIES["lineitem_regression_stats"] = QuerySpec(
    lineitem_regression_stats, REGRESSION_STATS_SQL
)


def lineitem_grouping_sets(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube specialize
    (lineitem_rollup / lineitem_cube cover those): per-(flag, status),
    per-flag, and grand-total rows in ONE pass with grouping flags
    disambiguating real NULL keys. Quantity sums run in exact long
    cents (the q1 pattern) so every slice is engine-identical.

    Scale: Spark expands grouping sets map-side (one scan, partial aggs
    per set) — same exchange story as rollup, |sets| x |groups| cells.

    Round 8 (VERDICT r7 item 9): the Spark side runs its OWN SQL text
    with the long-cents idiom (CAST(q*100 + 0.5 AS BIGINT)) instead of
    sharing the oracle string verbatim — ROUND(double) is per-row
    BigDecimal in Spark (the q1/q3 lesson) and the idiom is NOT
    portable to the oracle (DuckDB's double->bigint cast rounds where
    Spark's truncates, so the oracle keeps ROUND; values identical for
    the non-negative 2dp domain, driver-pinned). sf100 decomposition
    probe: scan(3 cols) 2.47 s, base agg 5.28 s, full 5.65 s — the
    Expand adds 0.37 s over the finest-grain aggregate and its
    exchange carries |tasks| x 6 cells, so the pre-aggregate exchange
    has nothing left to reuse; the gap to DuckDB is scan+eval, which
    the cents swap attacks.

    Round 10 (VERDICT r9 item 8): with ``layout="bucketed"`` the scan
    serves from the persisted bucketed lineitem table (64
    one-per-bucket files with Spark-written 128 MB row groups vs the
    flat fixture's 4,883 ~123k-row groups) — an A/B of row-group
    geometry on the 3-column scan the r8 decomposition blamed (2.47 s
    of the 5.65 s total)."""
    _register(spark, sf_dir)
    sql = GROUPING_SETS_SPARK_SQL
    if layout == "bucketed":
        from multi_report_etl_pipeline_spark.operators.layout import (  # noqa: PLC0415
            bucket_facts,
        )

        name = bucket_facts(spark, sf_dir)["lineitem"]
        sql = sql.replace("FROM lineitem", f"FROM {name}")
    return spark.sql(sql)


# Two-stage form: the GROUPING SETS Expand runs over the finest-grain
# aggregate (|groups| rows), not the corpus — Spark expands before the
# partial agg, so the one-stage form pushes |sets| x corpus rows through
# the aggregation loop. COUNT re-aggregates as SUM; the exact long-cent
# sums are associative, so every slice is value-identical (oracle-pinned).
# Spark-side text: long-cents fast path (see the function docstring —
# NOT portable to DuckDB, whose double->bigint cast rounds).
GROUPING_SETS_SPARK_SQL = """
WITH base AS (
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           SUM(CAST(l_quantity * 100 + 0.5 AS BIGINT)) AS cents
    FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(cents) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_qty
FROM base
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""

GROUPING_SETS_SQL = """
WITH base AS (
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS cents
    FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(cents) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_qty
FROM base
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


def orders_price_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family completion: NTILE / PERCENT_RANK /
    CUME_DIST over order value within each priority class. The sort key
    carries the o_orderkey tiebreak so every rank function is
    total-ordered (the §2.5 determinism hazard); percent_rank and
    cume_dist are exact small-integer ratios, identical under 6-dp
    rounding.

    Scale: one shuffle on the priority key; each function is O(1)
    window state over the same sort — one Window operator computes all
    three."""
    ord_ = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return ord_.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("totalprice"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


NTILES_SQL = """
SELECT o_orderkey, o_orderpriority,
       o_totalprice AS totalprice,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def orders_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running revenue — the cumulative-window primitive.
    The running sum accumulates exact long cents ordered by
    (o_orderdate, o_orderkey), so prefix sums are engine-identical at
    any parallelism; emitted as dollars via one final division.

    Scale: one shuffle on o_custkey; the frame is running (O(1) state),
    and customers parallelize. The cents sum holds to ~9e16 dollars per
    customer before long overflow."""
    ord_ = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ord_.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("order_date"),
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_total"),
    )


RUNNING_BALANCE_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate AS order_date,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
           AS running_total
FROM orders
"""


def lineitem_grouping_sets_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouping sets served from the persisted bucketed lineitem layout
    (round 10, VERDICT r9 item 8): no plan change beyond the scan —
    the win is ROW-GROUP GEOMETRY. The flat fixture packs 600M rows
    into 4,883 ~123k-row groups; the bucketed table's 64 one-per-bucket
    files carry Spark-written 128 MB row groups, and the 3-column
    decode over fewer, larger, dictionary-coherent groups runs 1.27x
    faster (sf100 interleaved A/B, 2 JVMs: flat 3.60/3.77 vs bucketed
    2.84/2.89 min-of-3). Values identical — shares the flat oracle."""
    return lineitem_grouping_sets(spark, sf_dir, layout="bucketed")


QUERIES.update(
    {
        "lineitem_grouping_sets": QuerySpec(
            lineitem_grouping_sets, GROUPING_SETS_SQL
        ),
        "lineitem_grouping_sets_bucketed": QuerySpec(
            lineitem_grouping_sets_bucketed, GROUPING_SETS_SQL
        ),
        "orders_price_ntiles": QuerySpec(orders_price_ntiles, NTILES_SQL),
        "orders_running_balance": QuerySpec(
            orders_running_balance, RUNNING_BALANCE_SQL
        ),
    }
)


_Q18_MIN_QTY = 200


def q18_large_volume_customers(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total lineitem
    quantity exceeds the threshold, with their customer and order
    detail, top 100 by order value. The reference's IN-subquery over a
    grouped HAVING re-aggregates lineitem twice; here the order-level
    quantity aggregate is computed ONCE (one partial-agg scan) and the
    filtered result drives both the membership test and the output
    column — same rows by construction, half the lineitem work.
    Quantities sum in exact long cents (the q1 pattern).

    Scale: lineitem aggregates to |orders| rows before anything joins;
    the orders join is key-co-partitioned (orderkey), the customer join
    shuffles on custkey, and the final cut is TakeOrdered — no global
    sort. A 100 TB lineitem flows through one map-side-combined agg.

    ``layout="bucketed"`` (round 9): the per-order quantity aggregate —
    the query's dominant exchange, 600M full-width rows on orderkey —
    runs EXCHANGE-FREE on the bucketed lineitem scan (the scan
    partitioning satisfies the groupBy clustering), and the orders
    join zips against the bucketed orders scan; only the |qualifying
    orders| customer join shuffles."""
    li = _fact(spark, sf_dir, "lineitem", layout)
    ord_ = _fact(spark, sf_dir, "orders", layout)
    cust = read_table(spark, sf_dir, "customer")
    qc = F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qc).alias("qty_cents"))
        .filter(F.col("qty_cents") > _Q18_MIN_QTY * 100)
    )
    j = big.join(ord_, big.l_orderkey == ord_.o_orderkey).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("qty_cents") / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       o_totalprice,
       CAST(qty_cents AS DOUBLE) / 100.0 AS sum_qty
FROM (
    SELECT l_orderkey, SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_cents
    FROM lineitem GROUP BY 1
    HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > {_Q18_MIN_QTY * 100}
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


QUERIES["tpch_q18_large_volume_customers"] = QuerySpec(
    q18_large_volume_customers, Q18_SQL
)


def orders_trailing_30d_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames — the frame mode the ROWS-based queries
    don't cover: for every order, the customer's order count and spend
    over the TRAILING 30 days (event-time, not row-count). RANGE frames
    include all peer rows, so ties on o_orderdate cannot make the
    result order-dependent — deterministic by construction, with spend
    accumulated in exact long cents.

    Scale: one shuffle on o_custkey; the range frame advances two
    pointers over each customer's date-sorted orders — O(1) amortized
    state, parallel across customers."""
    from multi_report_etl_pipeline_spark.operators.asof import (  # noqa: PLC0415
        _epoch_us,
    )

    ord_ = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
    day_us = 86400 * 1_000_000
    # timezone-independent epoch micros for BOTH timestamp flavors (the
    # asof-join convention — a plain cast would shift NTZ wall clocks)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(_epoch_us(ord_, "o_orderdate"))
        .rangeBetween(-30 * day_us, 0)
    )
    return ord_.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("order_date"),
        F.count(F.lit(1)).over(w).alias("orders_30d"),
        (F.sum(cents).over(w) / F.lit(100.0)).alias("spend_30d"),
    )


TRAILING_30D_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate AS order_date,
       COUNT(*) OVER w AS orders_30d,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
           / 100.0 AS spend_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


QUERIES["orders_trailing_30d_stats"] = QuerySpec(
    orders_trailing_30d_stats, TRAILING_30D_SQL
)


def q10_returned_items(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): revenue lost to returns per
    customer over a quarter, top 20 — the 4-way star join
    (lineitem⋈orders⋈customer⋈nation) with a selective flag predicate.
    Revenue = price*(1-discount) accumulated in exact long cents
    (scale-4, the q1/q3 convention).

    Plan: the returnflag filter pushes into the lineitem scan, the
    orderdate filter into orders; the orderkey join is the only
    data-proportional one, customer joins post-aggregation on custkey,
    and nation broadcasts. TakeOrdered caps the result — no global
    sort.

    Round 8: at fact scale the orderkey join and the rev⋈customer join
    carry SHUFFLE_HASH hints on their smaller sides via the size-gated
    ``_shj_hint`` (quiet-harness sf100 A/B: 12.23 s SHJ vs 13.23 s SMJ
    min — a mild but consistent win; see the helper's docstring).

    ``layout="bucketed"`` (round 9): both fact scans serve from the
    persisted orderkey-bucketed layout, so the only data-proportional
    join zips bucket-for-bucket with no exchange and no sort; the only
    remaining shuffles carry post-aggregate custkey rows."""
    li = _fact(spark, sf_dir, "lineitem", layout).filter(
        F.col("l_returnflag") == "R"
    )
    ord_ = _fact(spark, sf_dir, "orders", layout).filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    pc = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")
    dc = F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    rev = (
        li.select("l_orderkey", (pc * (100 - dc)).alias("rc"))
        .join(
            _shj_hint(ord_, spark, sf_dir, layout=layout),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg((F.sum("rc") / F.lit(10000.0)).alias("revenue"))
    )
    return (
        _shj_hint(rev, spark, sf_dir)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal AS acctbal, n_name AS nation,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


QUERIES["tpch_q10_returned_items"] = QuerySpec(q10_returned_items, Q10_SQL)
QUERIES["tpch_q10_bucketed"] = QuerySpec(q10_returned_items_bucketed, Q10_SQL)


def q18_large_volume_customers_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q18 on the bucketed fact layout: the 600M-row per-order quantity
    aggregate AND the orders join run exchange-free (see the flat
    docstring); registered serving row under the same oracle."""
    return q18_large_volume_customers(spark, sf_dir, layout="bucketed")


def q21_suppliers_kept_waiting_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q21 on the bucketed fact layout: zero-exchange fact pipeline
    (zip-merge + two cascaded orderkey-clustered aggs); registered
    serving row under the same oracle."""
    return q21_suppliers_kept_waiting(spark, sf_dir, layout="bucketed")


QUERIES["tpch_q18_bucketed"] = QuerySpec(
    q18_large_volume_customers_bucketed, Q18_SQL
)



def customer_rfm_segments(
    spark: SparkSession, sf_dir: str, strategy: str | None = None
) -> DataFrame:
    """RFM segmentation — the classic customer-analytics composition:
    per-customer Recency (days since last order at the corpus max
    date), Frequency (order count), Monetary (exact cents spend), each
    scored into quartiles by NTILE over a total-ordered sort (custkey
    tiebreak), concatenated into a segment code with per-segment
    counts. Exercises aggregate -> multi-window -> re-aggregate
    chaining on one shuffle key change.

    Scale: the per-customer aggregate is one partial-agg pass over
    orders. The three quartile scores have three value-identical
    physical strategies, picked from the input's file size (the
    stats-based planner decision a real engine makes), each fastest in
    its measured regime (interleaved min-of-3 A/Bs, BASELINE.md):

    - ``window`` (orders under ~50 MB): three NTILE windows chained on
      the full-width aggregate. Single-task sorts, but of a small
      |customers|-row frame with zero materialization overhead
      (sf1: 1.09 s vs narrow 1.33 s).
    - ``narrow`` (to ~1.5 GB — crossover MEASURED at sf100, see the
      threshold comment below): same single-task NTILE sorts but each over
      a 2-column per-metric projection of a checkpointed base, re-joined
      on custkey — the sort pays for row width (sf10: 4.57 s vs chained
      6.13 s, vs global_ntile 8.41 s).
    - ``selection`` (beyond — VERDICT r7 item 3): NTILE needs only the
      3 BOUNDARY rows per metric, so all 9 quartile boundaries (plus
      custkey tie-splits at boundary values) are found by one batched
      iterative-histogram exact selection
      (ranking.select_order_statistics: ~(1 seed + log_2048(range))
      narrow partial-agg jobs TOTAL, driver traffic <= 9 x 2048 longs
      per round), and the scores become pure in-row comparisons — no
      global sort, no rank materialization, no score join. Replaces
      the old range-sort form (3 x global_ntile parallel range sorts +
      2 joins: 46.7 s / 2.89x at sf100) as the extreme-scale shape.

    Equality of all strategies is pinned by tests/test_ranking.py and
    the A/Bs (equal=True at sf1 and sf10). The final segment rollup is
    a 64-group agg in every strategy. An unknown ``strategy`` raises
    ``ValueError``."""
    import os as _os

    if strategy is None:
        try:
            sz = _os.path.getsize(_os.path.join(sf_dir, "orders.parquet"))
        except OSError:
            sz = 0
        # round-7: the narrow->beyond crossover MEASURED at sf100
        # (orders 1.76 GB / 15M customers): range-sort 46.3 s vs
        # narrow 61.8 s interleaved min-of-3, value-identical —
        # range-sort won or tied every rep pair, so the flip moved
        # from the constructed 5 GB bound down to the measured 1.5 GB.
        # round-8: the beyond-shape is now `selection` (boundary
        # selection, no range sorts — see docstring).
        if sz > 1_500_000_000:
            strategy = "selection"
        elif sz > 50_000_000:
            strategy = "narrow"
        else:
            strategy = "window"
    if strategy not in ("window", "narrow", "selection"):
        raise ValueError(f"unknown RFM strategy {strategy!r}")
    ord_ = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
    per = ord_.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    )
    mx = per.agg(F.max("last_order").alias("mx"))
    base = per.join(F.broadcast(mx)).withColumn(
        "recency_days", F.datediff(F.col("mx"), F.col("last_order"))
    )
    if strategy == "narrow":
        # single-task NTILE sorts, but over per-metric 2-column frames
        # off a checkpointed base instead of chaining three sorts of the
        # full-width frame: 6.13 -> 4.57 s at sf10 (the sort pays for
        # row WIDTH); at sf1 the checkpoint overhead inverts it
        # (1.09 -> 1.33 s), hence the size tiers.
        narrow = base.select(
            "o_custkey", "recency_days", "frequency", "monetary_cents"
        ).localCheckpoint()
        r = narrow.select("o_custkey", "recency_days").withColumn(
            "r_score",
            F.ntile(4).over(
                Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
            ),
        ).select("o_custkey", "r_score")
        f = narrow.select("o_custkey", "frequency").withColumn(
            "f_score",
            F.ntile(4).over(
                Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
            ),
        ).select("o_custkey", "f_score")
        m = narrow.select("o_custkey", "monetary_cents").withColumn(
            "m_score",
            F.ntile(4).over(
                Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey"))
            ),
        )
        scored = m.join(r, "o_custkey").join(f, "o_custkey")
    elif strategy == "window":
        scored = (
            base.withColumn(
                "r_score",
                F.ntile(4).over(
                    Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
                ),
            )
            .withColumn(
                "f_score",
                F.ntile(4).over(
                    Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
                ),
            )
            .withColumn(
                "m_score",
                F.ntile(4).over(
                    Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey"))
                ),
            )
        )
    else:  # selection
        from multi_report_etl_pipeline_spark.operators.ranking import (
            _sql_ntile_cuts,
            ntile_threshold_expr,
            select_order_statistics,
        )

        narrow = base.select(
            "o_custkey", "recency_days", "frequency", "monetary_cents"
        ).localCheckpoint()  # selection rounds re-read this, not orders
        n_cust = narrow.count()
        if n_cust == 0:
            scored = narrow.select(
                "o_custkey",
                "monetary_cents",
                F.lit(1).alias("r_score"),
                F.lit(1).alias("f_score"),
                F.lit(1).alias("m_score"),
            )
        else:
            cuts = _sql_ntile_cuts(n_cust, 4)
            metrics = (
                ("r", "recency_days", False),
                ("f", "frequency", True),
                ("m", "monetary_cents", True),
            )
            specs = {}
            for tag, colname, desc in metrics:
                val = (-F.col(colname)) if desc else F.col(colname)
                for bi, e in enumerate(cuts):
                    specs[f"{tag}{bi}"] = {
                        "value": val,
                        "tie": "o_custkey",
                        "rank": e,
                    }
            stats = select_order_statistics(narrow, specs)
            scored = narrow
            for tag, colname, desc in metrics:
                scored = scored.withColumn(
                    f"{tag}_score",
                    ntile_threshold_expr(
                        F.col(colname),
                        F.col("o_custkey"),
                        [stats[f"{tag}{bi}"] for bi in range(len(cuts))],
                        descending=desc,
                    ),
                )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("monetary_cents") / F.lit(100.0)).alias("segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SQL = """
WITH per AS (
    SELECT o_custkey,
           MAX(o_orderdate) AS last_order,
           COUNT(*) AS frequency,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_cents
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o_custkey, monetary_cents,
           NTILE(4) OVER (ORDER BY datediff('day', last_order,
                              (SELECT MAX(last_order) FROM per)) ASC,
                          o_custkey ASC) AS r_score,
           NTILE(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
           NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
    FROM per
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 AS segment_revenue
FROM scored
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


QUERIES["customer_rfm_segments"] = QuerySpec(customer_rfm_segments, RFM_SQL)


def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation over orders (io.expectations): null keys,
    domain violations, referential orphans (anti-join count folded in
    as a pre-computed flag column), and duplicate keys — the dbt-test /
    Deequ report as one partial-agg pass plus one key-count pass.

    Scale: the rule scan is ONE pass (|rules| sum(CASE) cells); the
    uniqueness rule adds a key-keyed agg whose map-side combine
    collapses duplicates before the exchange; the orphan flag is a
    broadcast-able left-semi probe."""
    from multi_report_etl_pipeline_spark.io import expectations  # noqa: PLC0415

    ord_ = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    flagged = ord_.join(
        cust, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).withColumn("_orphan", F.col("c_custkey").isNull())
    dup_keys = (
        ord_.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("dups"))
    )
    base = expectations(
        flagged,
        {
            "null_orderkey": F.col("o_orderkey").isNull(),
            "null_custkey": F.col("o_custkey").isNull(),
            "nonpositive_price": F.col("o_totalprice") <= 0,
            "bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "orphan_custkey": F.col("_orphan"),
        },
    )
    tot = ord_.agg(F.count(F.lit(1)).alias("n_rows"))
    dup_row = dup_keys.join(F.broadcast(tot)).select(
        F.lit("duplicate_orderkey").alias("rule"),
        F.col("dups").cast("long").alias("violations"),
        "n_rows",
    )
    return base.unionByName(dup_row).orderBy("rule")


QUALITY_CHECKS_SQL = """
WITH flagged AS (
    SELECT o.*, c.c_custkey IS NULL AS _orphan
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
base AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null_orderkey,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null_custkey,
           SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_nonpositive_price,
           SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_bad_status,
           SUM(CASE WHEN _orphan THEN 1 ELSE 0 END) AS v_orphan
    FROM flagged
),
dups AS (
    SELECT COUNT(*) AS dups FROM (
        SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1
    )
)
SELECT rule, CAST(violations AS BIGINT) AS violations,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (
    SELECT 'null_orderkey' AS rule, v_null_orderkey AS violations, n AS n_rows FROM base
    UNION ALL SELECT 'null_custkey', v_null_custkey, n FROM base
    UNION ALL SELECT 'nonpositive_price', v_nonpositive_price, n FROM base
    UNION ALL SELECT 'bad_status', v_bad_status, n FROM base
    UNION ALL SELECT 'orphan_custkey', v_orphan, n FROM base
    UNION ALL SELECT 'duplicate_orderkey', dups,
              (SELECT COUNT(*) FROM orders) FROM dups
)
ORDER BY rule
"""


QUERIES["orders_quality_checks"] = QuerySpec(
    orders_quality_checks, QUALITY_CHECKS_SQL
)


def streaming_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live data-quality monitoring — the streaming twin of
    orders_quality_checks' scan rules: every sum(CASE) violation
    counter is ONE row of complete-mode state maintained as commits
    land, and the referential-orphan rule rides a stream-static left
    join against the customer dimension (the supported
    stream-dimension join shape). The drained counters reshape into
    the same (rule, violations, n_rows) report under the batch
    oracle's scan-rule subset — CI for the landing zone, live.
    The uniqueness rule stays batch-only by design: its state is
    key-cardinality-sized, the one rule a streaming monitor defers to
    the nightly pass."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415

    st = streaming.read_orders_quality_stream(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    flagged = st.join(
        cust, st.o_custkey == cust.c_custkey, "left"
    ).withColumn("_orphan", F.col("c_custkey").isNull())
    rules = {
        "null_orderkey": F.col("o_orderkey").isNull(),
        "null_custkey": F.col("o_custkey").isNull(),
        "nonpositive_price": F.col("o_totalprice") <= 0,
        "bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        "orphan_custkey": F.col("_orphan"),
    }
    agg = flagged.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(pred, 1).otherwise(0)).alias(f"_v_{name}")
            for name, pred in rules.items()
        ],
    )
    streaming.run_available_now(agg, "q_stream_quality", "complete")
    sink = spark.table("q_stream_quality")
    stack = ", ".join(f"'{name}', _v_{name}" for name in rules)
    return sink.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, violations)", "_n AS n_rows"
    ).orderBy("rule")


STREAM_QUALITY_SQL = """
WITH flagged AS (
    SELECT o.*, c.c_custkey IS NULL AS _orphan
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
base AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null_orderkey,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null_custkey,
           SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_nonpositive_price,
           SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_bad_status,
           SUM(CASE WHEN _orphan THEN 1 ELSE 0 END) AS v_orphan
    FROM flagged
)
SELECT rule, CAST(violations AS BIGINT) AS violations,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (
    SELECT 'null_orderkey' AS rule, v_null_orderkey AS violations, n AS n_rows FROM base
    UNION ALL SELECT 'null_custkey', v_null_custkey, n FROM base
    UNION ALL SELECT 'nonpositive_price', v_nonpositive_price, n FROM base
    UNION ALL SELECT 'bad_status', v_bad_status, n FROM base
    UNION ALL SELECT 'orphan_custkey', v_orphan, n FROM base
)
ORDER BY rule
"""


QUERIES["streaming_quality_checks"] = QuerySpec(
    streaming_quality_checks, STREAM_QUALITY_SQL
)


def orders_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over the full partition
    frame — the navigation-function family the LAG/LEAD and ranking
    queries don't cover: each customer's first, latest, and
    second-ever order in one pass. The frame is explicitly
    unbounded-to-unbounded (LAST_VALUE over the default frame is the
    classic silent bug — it returns the CURRENT row), the sort carries
    the orderkey tiebreak, and one row per customer survives via the
    per-partition top-1 (WindowGroupLimit shape).

    Scale: one shuffle on o_custkey; all three navigation functions
    plus the dedup rank share one Window sort."""
    ord_ = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ord_.select(
            "o_custkey",
            F.first_value(F.col("o_orderkey")).over(full).alias("first_order"),
            F.last_value(F.col("o_orderkey")).over(full).alias("last_order"),
            F.nth_value(F.col("o_orderkey"), 2).over(full).alias("second_order"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


FIRST_LAST_NTH_SQL = """
SELECT o_custkey, first_order, last_order, second_order
FROM (
    SELECT o_custkey,
           FIRST_VALUE(o_orderkey) OVER wf AS first_order,
           LAST_VALUE(o_orderkey) OVER wf AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER wf AS second_order,
           ROW_NUMBER() OVER wo AS rn
    FROM orders
    WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) WHERE rn = 1
ORDER BY o_custkey
"""


QUERIES["orders_first_last_nth"] = QuerySpec(
    orders_first_last_nth, FIRST_LAST_NTH_SQL
)


def customer_abc_analysis(
    spark: SparkSession, sf_dir: str, strategy: str | None = None
) -> DataFrame:
    """Pareto / ABC classification — the cumulative-share shape: rank
    customers by revenue, accumulate the share of total in exact long
    cents (integer cumulative and total sums, so the class boundary
    comparison 2*cum <= total etc. is decided in EXACT integer
    arithmetic — a float share would flip boundary customers between
    engines), and bucket A (first 50% of revenue), B (next 30%),
    C (tail). Emits per-class counts and revenue.

    Scale: the revenue rollup is one partial-agg pass; the class rollup
    is a 3-group agg. The cumulative step has two value-identical
    strategies, gated on the orders file size (the RFM pattern, same
    1.5 GB tier):
    - ``window`` (default below the gate): the cumulative-share window
      — a single-task sort of the |customers|-row aggregate, cheapest
      while that frame is one-task-sized.
    - ``selection`` (round 8, above the gate): the class boundaries are
      WEIGHTED-prefix order statistics — ranking.
      select_cumulative_boundaries finds where running revenue crosses
      1/2 and 4/5 of the total by batched histogram narrowing (no sort,
      no Exchange SinglePartition; the same exact integer boundary
      tests), then classification is a pure in-row comparison. This
      retires the docstring's old "width_bucket escape hatch" IOU with
      an exact, not approximate, scale path.

    An unknown ``strategy`` raises ``ValueError``."""
    import os as _os

    if strategy is None:
        try:
            sz = _os.path.getsize(_os.path.join(sf_dir, "orders.parquet"))
        except OSError:
            sz = 0
        strategy = "selection" if sz > 1_500_000_000 else "window"
    if strategy not in ("window", "selection"):
        raise ValueError(f"unknown ABC strategy {strategy!r}")
    ord_ = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
    per = ord_.groupBy("o_custkey").agg(F.sum(cents).alias("rev"))
    if strategy == "selection":
        from multi_report_etl_pipeline_spark.operators.ranking import (
            cumulative_prefix_expr,
            select_cumulative_boundaries,
        )

        narrow = per.localCheckpoint()  # selection rounds re-read this
        spec = {
            "A": {"value": -F.col("rev"), "tie": "o_custkey",
                  "weight": F.col("rev"), "a": 2, "b": 1},
            "B": {"value": -F.col("rev"), "tie": "o_custkey",
                  "weight": F.col("rev"), "a": 5, "b": 4},
        }
        res = select_cumulative_boundaries(narrow, spec)
        in_a = cumulative_prefix_expr(
            F.col("rev"), F.col("o_custkey"), res["A"], descending=True
        )
        in_b = cumulative_prefix_expr(
            F.col("rev"), F.col("o_custkey"), res["B"], descending=True
        )
        cls = F.when(in_a, "A").when(in_b, "B").otherwise("C")
        classified = narrow.select(cls.alias("abc_class"), "rev")
    else:
        w = Window.orderBy(F.desc("rev"), F.asc("o_custkey")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        ).orderBy(F.lit(1))
        cum = per.select(
            "rev",
            F.sum("rev").over(w).alias("cum"),
            F.sum("rev").over(tot).alias("total"),
        )
        cls = (
            F.when(F.col("cum") * 2 <= F.col("total"), "A")
            .when(F.col("cum") * 5 <= F.col("total") * 4, "B")
            .otherwise("C")
        )
        classified = cum.select(cls.alias("abc_class"), "rev")
    return (
        classified.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("rev") / F.lit(100.0)).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


ABC_SQL = """
WITH per AS (
    SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
cum AS (
    SELECT rev,
           SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(rev) OVER () AS total
    FROM per
)
SELECT CASE WHEN cum * 2 <= total THEN 'A'
            WHEN cum * 5 <= total * 4 THEN 'B'
            ELSE 'C' END AS abc_class,
       COUNT(*) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) / 100.0 AS class_revenue
FROM cum
GROUP BY 1
ORDER BY 1
"""


QUERIES["customer_abc_analysis"] = QuerySpec(customer_abc_analysis, ABC_SQL)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-predicate
    aggregate — every filter pushes into the parquet scan (shipdate
    range, discount band, quantity cap), revenue = price*discount
    accumulated in exact long cents, ONE row out. The canonical "is
    pushdown working" probe: the scan should read only rows whose
    row-group stats overlap the predicate ranges.

    Scale: the cheapest shape in the book — scan, narrow project, one
    partial-agg cell."""
    li = read_table(spark, sf_dir, "lineitem")
    pc = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")
    dc = F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(pc * dc) / F.lit(10000.0)).alias("revenue"))
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""


QUERIES["tpch_q6_forecast_revenue"] = QuerySpec(q6_forecast_revenue, Q6_SQL)


# ---------------------------------------------------------------------------
# Round-6 TPC-H completion batch: the remaining dbgen queries expressible on
# this reduced schema (no partsupp table; lineitem lacks commit/receipt dates
# and shipmode; customer lacks phone). Where a pristine column is missing the
# query keeps its OPERATOR SHAPE (semi join, anti join, correlated scalar
# subquery, disjunctive pushdown, count-distribution histogram) and the
# docstring names the substitution. q2/q9/q11/q16/q20 need partsupp and are
# out of scope for this dataset.
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to join + per-order dedup.

    Substitution: the pristine predicate l_commitdate < l_receiptdate
    (neither column exists here) becomes l_shipdate > o_orderdate — same
    row-level "this order had a late line" existence test with a
    correlated non-equi conjunct beside the orderkey equality.

    Physical strategy: NOT a left-semi join. Spark's semi join must
    build on the probe's right side, so orders-semi-lineitem always
    shuffles the full fact (measured 2.71 s at sf1). Decorrelating to
    an INNER join + groupBy(o_orderkey) dedup keeps EXISTS semantics
    (the agg absorbs lineitem's multiplicity) while letting AQE
    broadcast the quarter-filtered orders side from runtime stats —
    0.68 s at sf1, value-identical. No static broadcast hint: a quarter
    of orders is a fact slice, and at 100 TB AQE correctly degrades to
    a shuffle join instead of an OOM broadcast (hinted vs unhinted
    measured equal at sf1, 0.59 vs 0.56 s).
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(
            orders,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.lit(1).alias("_one"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.

    Plan: both nation sides resolve to 2-row broadcasts; supplier and
    customer pre-prune against them (2/25 of each dim survives), lineitem
    broadcast-joins the pruned supplier (cutting the fact ~12x before any
    shuffle), orders pre-prunes via a semi join on the pruned customers,
    and the one big shuffle join (lineitem x orders on orderkey) runs on
    both-sides-pruned inputs. The (n1,n2)|(n2,n1) disjunction is applied
    post-join on two broadcast-carried nation names.
    """
    nations = F.broadcast(
        read_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    vol_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg((F.sum(vol_c4) / F.lit(10000.0)).alias("revenue"))
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(vol_c4) AS DOUBLE) / 10000.0 AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS vol_c4
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) t
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share of a product type in a region.

    Substitution: p_type here is a single word ('ECONOMY' etc.), so the
    type filter is equality, not the pristine LIKE '%STEEL'; same
    pushdown shape. The share is a ratio of two conditional long-cent
    sums — exact integers on both engines, so the final double division
    is bit-identical.

    Plan: part prunes lineitem ~6x through a broadcast join before
    anything shuffles; ASIA customers semi-prune orders; supplier's
    nation name rides a broadcast. One fact-fact shuffle (li x orders).
    """
    part = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_keys = F.broadcast(
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select("n_nationkey")
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(asia_keys, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("c_custkey")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_orderdate")
    )
    supp_nation = F.broadcast(
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol_c4.alias("vol_c4"),
            F.when(F.col("supp_nation") == "NATION_3", vol_c4)
            .otherwise(F.lit(0).cast("bigint"))
            .alias("nat_c4"),
        )
        .groupBy("o_year")
        .agg(
            (F.sum("nat_c4").cast("double") / F.sum("vol_c4").cast("double")).alias(
                "mkt_share"
            )
        )
    )


Q8_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
           ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY o_year
"""


def q12_ship_mode_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + CASE-pivot counts by a derived category.

    Substitution: l_shipmode / commit/receipt dates don't exist, so the
    grouping category is a ship-delay bucket (<= 30 days after order date
    vs later) — the pristine query's two-bucket pivot on order priority
    (URGENT+HIGH vs rest) is kept arm-for-arm.

    Plan: one shuffle join on orderkey (lineitem year-filtered and
    2-column narrow), then a 2-group CASE-count agg, partial map-side.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.when(
                F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                F.lit("ON_TIME"),
            )
            .otherwise(F.lit("DELAYED"))
            .alias("delay_bucket"),
            F.when(high, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            (F.count(F.lit(1)) - F.sum("is_high")).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
            THEN 'ON_TIME' ELSE 'DELAYED' END AS delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY delay_bucket
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution (left join preserved).

    Substitution: the pristine filter excludes comment patterns
    (o_comment NOT LIKE '%special%requests%'); o_comment doesn't exist,
    so the excluded slice is o_orderpriority = '5-LOW' — same
    filtered-LEFT-join shape (the filter must ride the join condition,
    not a WHERE, to preserve zero-order customers).

    Plan: left join shuffles on custkey; the per-customer count reuses
    that partitioning (no second exchange); the distribution agg is tiny.
    """
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum quarterly revenue.

    The pristine correlated scalar subquery (revenue = MAX(revenue))
    decorrelates to: aggregate once, reduce the 1-row max, broadcast it
    back as an equality filter. Long-cent revenue makes the max-equality
    EXACT — the pristine double formulation can drop ties to rounding.

    Plan: one shuffle agg on suppkey; the max is a 1-row reduction whose
    broadcast join costs nothing; supplier names ride a broadcast dim.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    vol_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(vol_c4).alias("rev_c4"))
    mx = rev.agg(F.max("rev_c4").alias("mx_c4"))
    supp = F.broadcast(
        read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        rev.join(F.broadcast(mx), F.col("rev_c4") == F.col("mx_c4"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c4") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_c4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_c4 AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE rev_c4 = (SELECT MAX(rev_c4) FROM revenue)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand's parts.

    Substitution: p_container doesn't exist; the part slice is
    p_brand = 'Brand#23' AND p_size <= 5. The correlated per-part
    AVG(l_quantity) threshold decorrelates to a grouped agg joined back;
    the comparison l_quantity < 0.2 * avg is done in EXACT integer
    arithmetic (qty_c * cnt * 5 < sum_qc), dodging double-threshold
    divergence between engines entirely.

    Plan: the brand slice broadcast-prunes lineitem before the per-part
    agg, so the avg is computed only for surviving parts; the stats join
    back on partkey reuses the agg's hash partitioning (one exchange of
    the pruned fact, total).
    """
    part = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 5))
        .select("p_partkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select(
            "l_partkey",
            F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)").alias("qty_c"),
            F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").alias("price_c"),
        )
    )
    stats = li.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.sum("qty_c").alias("sum_qc"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(stats, F.col("l_partkey") == F.col("sp_partkey"))
        .filter(F.col("qty_c") * F.col("cnt") * F.lit(5) < F.col("sum_qc"))
        .agg((F.sum("price_c") / F.lit(700.0)).alias("avg_yearly"))
    )


Q17_SQL = """
WITH sliced AS (
    SELECT l_partkey,
           CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#23' AND p_size <= 5
), stats AS (
    SELECT l_partkey AS sp_partkey, SUM(qty_c) AS sum_qc, COUNT(*) AS cnt
    FROM sliced GROUP BY l_partkey
)
SELECT CAST(SUM(price_c) AS DOUBLE) / 700.0 AS avg_yearly
FROM sliced JOIN stats ON l_partkey = sp_partkey
WHERE qty_c * cnt * 5 < sum_qc
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under three disjunctive brand/size/quantity arms.

    Substitution: the pristine container/shipmode conjuncts don't exist;
    each arm keeps its brand + size-range + quantity-range triple. The
    point of the query is disjunction handling: the quantity envelope
    (1..30, the union of the arms) is factored out so the fact scan gets
    a pushable range predicate, while the exact per-arm residual runs
    post-join.

    Plan: envelope filter pushed to the lineitem scan; brand-sliced part
    broadcast; disjunction evaluated in codegen; single-cell agg.
    """
    part = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    vol_c4 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)") * (
        F.lit(100).cast("bigint") - F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm)
        .agg((F.sum(vol_c4) / F.lit(10000.0)).alias("revenue"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE)
       / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity >= 1 AND l_quantity <= 30
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 20 AND 30))
"""


def q21_suppliers_kept_waiting(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q21: suppliers who alone held up multi-supplier orders
    (EXISTS + NOT EXISTS over the same fact).

    Substitution: "late" (pristine l_receiptdate > l_commitdate) becomes
    l_shipdate > o_orderdate + 60 days.

    Physical strategy: both correlated probes AND the waiting
    supplier's identity fold into ONE PER-ORDER AGGREGATE, so the
    600M-row joined-lines frame is consumed exactly once. For a late
    line of supplier s on order o: EXISTS another supplier's line on o
    <=> countDistinct(suppkey) >= 2, and NOT EXISTS another supplier's
    late line <=> countDistinct(suppkey WHERE late) == 1 (s itself is
    late, so "exactly one late supplier" means "only s") — and under
    that n_late == 1 predicate, max(when(late, suppkey)) IS the
    waiting supplier, and max(when(late, late_lines)) its line-granular
    wait count (q21 counts l1 ROWS, so a supplier with two late lines
    on one order waits twice; the per-pair line count carries that
    through the dedup agg). The previous shape re-joined the late
    lines against the per-order stats with a semi join, which
    re-executed the lineitem⋈F-orders join as a second consumer —
    at sf100 that plus the 145M-row probe was the difference between
    246 s and the single-pass form (interleaved A/B in BASELINE.md).
    The pair agg and the order agg both cluster on l_orderkey, so the
    one exchange that feeds the join serves every downstream step.
    Nation pruning broadcasts ~1/25 of suppliers POST-aggregation
    (|qualifying orders| rows, not |late lines|). Top-100 runs as
    TakeOrderedAndProject with suppkey tiebreak.

    ``layout="bucketed"`` (round 9): the li⋈F-orders join, the
    (orderkey, suppkey) pair agg and the per-order agg ALL cluster on
    l_orderkey, so on the bucketed scans the ENTIRE fact pipeline runs
    with zero exchange — scan, zip-merge, two cascaded partial aggs,
    broadcast supplier probe, TakeOrdered.
    """
    orders = _fact(spark, sf_dir, "orders", layout).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _fact(spark, sf_dir, "lineitem", layout).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    # two-stage dedup agg, NOT a double countDistinct: two DISTINCT
    # aggregates plan an Expand that doubles the joined stream before
    # its exchange, while (orderkey, suppkey) -> max(late) followed by a
    # plain per-order count/sum keeps every row single-width and both
    # aggs map-side partial (interleaved A/B: 10.81 -> 7.47 s at sf10,
    # 1.96 -> 1.81 at sf1, value-identical)
    pairs = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late"),
        F.sum(F.col("late").cast("int")).alias("late_lines"),
    )
    qualifying = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("late").cast("int")).alias("n_late"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
            F.max(F.when(F.col("late"), F.col("late_lines"))).alias("wait_lines"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    nat4_supp = F.broadcast(
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_4"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        qualifying.join(nat4_supp, F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("wait_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(100)
    )


Q21_SQL = """
WITH lines AS (
    SELECT l_orderkey, l_suppkey,
           l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM lines l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4' AND l1.late
  AND EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 100
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich-but-inactive customers by country (anti join +
    ungrouped scalar subquery).

    Substitution: c_phone doesn't exist, so the "country code" is
    c_nationkey over a 5-nation IN-list; and because this synthetic
    corpus gives virtually every customer at least one order (0 order-
    less customers at sf0.01), "inactive" is NO ORDER SINCE 2000-01-01
    rather than no order ever — same LEFT ANTI join on custkey, with the
    recency filter pushed into the anti side's scan, and a selectivity
    that actually exercises the probe. The positive-balance average
    threshold decorrelates to a 1-row (sum, count) broadcast compared in
    EXACT integer arithmetic (bal_c * cnt > sum_c).

    Plan: customer scans once with the IN-list pushed down; the
    threshold is a 1-row reduction; the anti join against orders is the
    only shuffle (orders projected to its key).
    """
    keys = [3, 7, 13, 17, 21]
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(keys)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_c"),
    )
    thresh = F.broadcast(
        cust.filter(F.col("bal_c") > 0).agg(
            F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("cnt")
        )
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(thresh)
        .filter(F.col("bal_c") * F.col("cnt") > F.col("sum_c"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / F.lit(100.0)).alias("totacctbal"),
        )
    )


Q22_SQL = """
WITH cust AS (
    SELECT c_custkey, c_nationkey,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer WHERE c_nationkey IN (3, 7, 13, 17, 21)
), thresh AS (
    SELECT SUM(bal_c) AS sum_c, COUNT(*) AS cnt FROM cust WHERE bal_c > 0
)
SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal
FROM cust, thresh
WHERE bal_c * cnt > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
"""


QUERIES.update(
    {
        "tpch_q4_order_priority": QuerySpec(q4_order_priority, Q4_SQL),
        "tpch_q7_volume_shipping": QuerySpec(q7_volume_shipping, Q7_SQL),
        "tpch_q8_market_share": QuerySpec(q8_market_share, Q8_SQL),
        "tpch_q12_ship_mode_delay": QuerySpec(q12_ship_mode_delay, Q12_SQL),
        "tpch_q13_customer_distribution": QuerySpec(
            q13_customer_distribution, Q13_SQL
        ),
        "tpch_q15_top_supplier": QuerySpec(q15_top_supplier, Q15_SQL),
        "tpch_q17_small_quantity_revenue": QuerySpec(
            q17_small_quantity_revenue, Q17_SQL
        ),
        "tpch_q19_disjunctive_revenue": QuerySpec(q19_disjunctive_revenue, Q19_SQL),
        "tpch_q21_suppliers_kept_waiting": QuerySpec(
            q21_suppliers_kept_waiting, Q21_SQL
        ),
        "tpch_q21_bucketed": QuerySpec(
            q21_suppliers_kept_waiting_bucketed, Q21_SQL
        ),
        "tpch_q22_global_sales_opportunity": QuerySpec(
            q22_global_sales_opportunity, Q22_SQL
        ),
    }
)


def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: one row per column of orders with row
    count, null count, exact distinct count, and min/max rendered as
    strings — the table-summary primitive every warehouse exposes.

    Plan: one scan, one aggregate (Spark plans the six COUNT DISTINCTs
    via a single Expand — x6 row multiplication but still one pass, one
    exchange of partial states), then a driver-tiny stack() of the 1-row
    result into the long form. Exact distinct is the point of the oracle
    row; at 100 TB you'd swap in the portable HLL sketch already in the
    registry (lineitem_hll_distinct) per column. The double column is
    printf-formatted on both engines — raw double-to-string rendering is
    NOT engine-portable, shortest-round-trip rules differ.
    """
    o = read_table(spark, sf_dir, "orders")
    cols = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice", F.format_string("%.2f", F.col("o_totalprice"))),
        ("o_orderdate", F.col("o_orderdate").cast("string")),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, rendered in cols:
        aggs += [
            F.count(F.col(name)).alias(f"{name}__nn"),
            F.countDistinct(F.col(name)).alias(f"{name}__nd"),
            F.min(rendered).alias(f"{name}__mn"),
            F.max(rendered).alias(f"{name}__mx"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', {name}__nn, {name}__nd, {name}__mn, {name}__mx"
        for name, _ in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_notnull, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_notnull")).alias("n_null"),
        "n_distinct",
        "min_value",
        "max_value",
    )


COLUMN_PROFILE_SQL = """
WITH agg AS (
    SELECT COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS k_nn, COUNT(DISTINCT o_orderkey) AS k_nd,
           MIN(CAST(o_orderkey AS VARCHAR)) AS k_mn,
           MAX(CAST(o_orderkey AS VARCHAR)) AS k_mx,
           COUNT(o_custkey) AS c_nn, COUNT(DISTINCT o_custkey) AS c_nd,
           MIN(CAST(o_custkey AS VARCHAR)) AS c_mn,
           MAX(CAST(o_custkey AS VARCHAR)) AS c_mx,
           COUNT(o_orderstatus) AS s_nn, COUNT(DISTINCT o_orderstatus) AS s_nd,
           MIN(o_orderstatus) AS s_mn, MAX(o_orderstatus) AS s_mx,
           COUNT(o_totalprice) AS t_nn, COUNT(DISTINCT o_totalprice) AS t_nd,
           MIN(printf('%.2f', o_totalprice)) AS t_mn,
           MAX(printf('%.2f', o_totalprice)) AS t_mx,
           COUNT(o_orderdate) AS d_nn, COUNT(DISTINCT o_orderdate) AS d_nd,
           MIN(CAST(o_orderdate AS VARCHAR)) AS d_mn,
           MAX(CAST(o_orderdate AS VARCHAR)) AS d_mx,
           COUNT(o_orderpriority) AS p_nn,
           COUNT(DISTINCT o_orderpriority) AS p_nd,
           MIN(o_orderpriority) AS p_mn, MAX(o_orderpriority) AS p_mx
    FROM orders
)
SELECT u.column_name, agg.n_rows,
       agg.n_rows - u.n_notnull AS n_null,
       u.n_distinct, u.min_value, u.max_value
FROM agg, LATERAL (
    VALUES ('o_orderkey', k_nn, k_nd, k_mn, k_mx),
           ('o_custkey', c_nn, c_nd, c_mn, c_mx),
           ('o_orderstatus', s_nn, s_nd, s_mn, s_mx),
           ('o_totalprice', t_nn, t_nd, t_mn, t_mx),
           ('o_orderdate', d_nn, d_nd, d_mn, d_mx),
           ('o_orderpriority', p_nn, p_nd, p_mn, p_mx)
) AS u(column_name, n_notnull, n_distinct, min_value, max_value)
"""


QUERIES["orders_column_profile"] = QuerySpec(
    orders_column_profile, COLUMN_PROFILE_SQL
)


# -------------------------------------------- privacy / governance ---

# Re-identification threshold for the k-anonymity audit: quasi-
# identifier groups with fewer members are flagged as linkable.
K_ANONYMITY_K = 5


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk audit over the customer quasi-identifiers —
    the governance pass every shared/training dataset release runs
    (Sweeney 2002): a record is re-identifiable when its quasi-
    identifier combination — here (nation, market segment, account-
    balance bucket), the attributes an adversary can link from outside
    — is shared by fewer than k records.

    Emits one row per level-0 QI group (balance bucketed to 1000) with
    its anonymity-set size ``k_group``, the size its members' group
    would have after ONE generalization step (balance coarsened to
    10000 — nested floors compose: floor(floor(x/1000)/10) ==
    floor(x/10000)) as ``k_generalized``, and the audit verdict:
    'ok' (k >= 5 as-is), 'generalizable' (fixable by coarsening),
    'suppress' (linkable even after generalization — the rows a
    release must drop).

    Scale: two partial-agg passes over the same scan (level-0 groups,
    level-1 groups) joined on the derived coarse key — the level-1
    side is one row per coarse bucket and broadcasts; nothing is
    row-proportional downstream of the map-side combines."""
    cust = read_table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    l0 = (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            bucket.alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("k_group"))
    )
    l1 = (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 10000).cast("bigint").alias("coarse"),
        )
        .agg(F.count(F.lit(1)).alias("k_generalized"))
    )
    joined = l0.withColumn(
        "coarse", F.floor(F.col("bal_bucket") / F.lit(10.0)).cast("bigint")
    ).join(F.broadcast(l1), ["nationkey", "mktsegment", "coarse"])
    verdict = (
        F.when(F.col("k_group") >= K_ANONYMITY_K, F.lit("ok"))
        .when(F.col("k_generalized") >= K_ANONYMITY_K, F.lit("generalizable"))
        .otherwise(F.lit("suppress"))
    )
    return joined.select(
        "nationkey",
        "mktsegment",
        "bal_bucket",
        "k_group",
        "k_generalized",
        verdict.alias("verdict"),
    )


K_ANONYMITY_SQL = """
WITH l0 AS (
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS k_group
    FROM customer GROUP BY 1, 2, 3
),
l1 AS (
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(FLOOR(c_acctbal / 10000) AS BIGINT) AS coarse,
           CAST(COUNT(*) AS BIGINT) AS k_generalized
    FROM customer GROUP BY 1, 2, 3
)
SELECT l0.nationkey, l0.mktsegment, l0.bal_bucket, l0.k_group,
       l1.k_generalized,
       CASE WHEN l0.k_group >= 5 THEN 'ok'
            WHEN l1.k_generalized >= 5 THEN 'generalizable'
            ELSE 'suppress' END AS verdict
FROM l0
JOIN l1 ON l1.nationkey = l0.nationkey
       AND l1.mktsegment = l0.mktsegment
       AND l1.coarse = CAST(FLOOR(l0.bal_bucket / 10.0) AS BIGINT)
"""


QUERIES["customer_k_anonymity"] = QuerySpec(
    customer_k_anonymity, K_ANONYMITY_SQL
)


# ---------------------------------------------------------------------------
# Round-7 TPC-H completion: the five dbgen queries that need PARTSUPP
# (q2/q9/q11/q16/q20). The driver's dataset ships no partsupp.parquet, so
# partsupp is DERIVED deterministically from part x supplier with dbgen's
# cardinality contract (exactly 4 suppliers per part, availqty 1..9999,
# supplycost 1.00..999.99) — the same pure-integer construction in the Spark
# builder and in every oracle's CTE, so both engines compute bit-identical
# tables from the shared parquet. Where dbgen's formula would need
# floor-division of a possibly-negative key (its (partkey-1)/S term), ours
# keeps every operand non-negative so Spark's truncating `%` and DuckDB's
# agree without floor/trunc divergence.
#
# Scale posture: the builder is a narrow 4x flat-map over part plus ONE
# broadcast hash join against a dim-sized supplier rank map — no shuffle.
# In a real deployment partsupp is a stored table and read_table() replaces
# this builder; every query below treats it as fact-shaped (never
# broadcast) so the plans survive that swap.
#
# JOIN-SELECTIVITY CAVEAT (ADVICE r7): the driver's lineitem was generated
# independently of this formula, so its (l_partkey, l_suppkey) pairs do NOT
# land on the (p_partkey*13 + i) % s_cnt supplier assignment — real dbgen
# guarantees every lineitem pair exists in partsupp, here only ~4/|supplier|
# of lineitem rows match (~0.04% at sf1). Both engines run the identical
# derived table, so the oracles hold and the RELATIVE Spark-vs-DuckDB bench
# comparison is fair, but q9/q20's lineitem->partsupp fact join is far
# sparser than genuine TPC-H: their absolute bench rows exercise the join's
# shuffle machinery at real volume (both fact sides still shuffle in full)
# while the post-join reduce sees far fewer surviving rows than dbgen would
# produce. Read "TPC-H 22/22" as semantic-shape coverage on this dataset,
# not dbgen-comparable q9/q20 absolute throughput.
# ---------------------------------------------------------------------------

# Shared CTE text: `snum` ranks suppliers densely (works for contiguous AND
# offset key spaces, e.g. make_scale.py replicas), `partsupp` is the derived
# table. Composed into each oracle below.
PARTSUPP_CTES = """
snum AS MATERIALIZED (
    SELECT s_suppkey, ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS s_idx
    FROM supplier
), scnt AS (SELECT COUNT(*) AS s_cnt FROM supplier),
-- MATERIALIZED: inlined, DuckDB re-derives partsupp at every reference
-- (q2's correlated min makes that per-probe) and loses the hash join on
-- the modular key — measured 35-69 s vs 0.13-0.17 s at sf1, identical
-- results. The Spark builder needs no analog (one broadcast join plan).
partsupp AS MATERIALIZED (
    SELECT p.p_partkey AS ps_partkey,
           sn.s_suppkey AS ps_suppkey,
           (p.p_partkey * 23 + i.i * 41) % 9999 + 1 AS ps_availqty,
           CAST((p.p_partkey * 7 + i.i * 1009) % 99900 + 100 AS DOUBLE)
               / 100.0 AS ps_supplycost
    FROM part p
    CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) i
    CROSS JOIN scnt
    JOIN snum sn ON sn.s_idx = (p.p_partkey * 13 + i.i) % scnt.s_cnt
)
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp table (see section comment above).

    Columns: ps_partkey BIGINT, ps_suppkey BIGINT, ps_availqty BIGINT,
    ps_supplycost DOUBLE (exactly 2 decimal places by construction, so
    ROUND(cost*100) recovers the integer cents losslessly).

    The supplier rank map is a single-partition window over the supplier
    DIM (10k rows per TPC-H sf unit) — acceptable for a fixture builder;
    the consuming queries never rely on it being cheap.
    """
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey")
    snum = sup.select(
        "s_suppkey",
        (F.row_number().over(Window.orderBy("s_suppkey")) - 1).alias("s_idx"),
    )
    scnt = sup.agg(F.count(F.lit(1)).alias("s_cnt"))
    part = read_table(spark, sf_dir, "part").select("p_partkey")
    quad = spark.range(4).select(F.col("id").alias("i"))
    p, i = F.col("p_partkey"), F.col("i")
    return (
        part.crossJoin(F.broadcast(quad))
        .crossJoin(F.broadcast(scnt))
        .select(
            p.alias("ps_partkey"),
            ((p * 13 + i) % F.col("s_cnt")).alias("s_idx"),
            ((p * 23 + i * 41) % 9999 + 1).alias("ps_availqty"),
            (((p * 7 + i * 1009) % 99900 + 100).cast("double") / 100.0).alias(
                "ps_supplycost"
            ),
        )
        .join(F.broadcast(snum), "s_idx")
        .select(
            "ps_partkey",
            F.col("s_suppkey").alias("ps_suppkey"),
            "ps_availqty",
            "ps_supplycost",
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: min-cost supplier per qualifying part in a region.

    Substitution: p_mfgr doesn't exist -> p_brand in the output;
    p_type LIKE '%BRASS' -> equality on 'STANDARD' with p_size <= 15
    (range instead of equality keeps the result non-degenerate at
    sf0.001 where only 2 parts have size exactly 15).

    Shape: the pristine correlated MIN subquery is decorrelated to a
    min-over-partition window on the region-filtered offer set — the
    part filter and the region filter both apply BEFORE the window, so
    the windowed frame is (qualifying parts) x (<=4 offers), never full
    partsupp. Ties at the per-part min keep both rows on both engines.
    The ORDER BY ... LIMIT 100 cut is deterministic: (s_acctbal DESC,
    n_name, s_name, p_partkey) is unique per offer row because a
    (supplier, part) pair appears at most once in partsupp.
    """
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_nations = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(eur_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_brand")
    )
    offers = (
        derived_partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        offers.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = f"""
WITH {PARTSUPP_CTES},
eur AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, ps.ps_partkey AS p_partkey, p_brand
FROM partsupp ps
JOIN part ON ps.ps_partkey = part.p_partkey
         AND p_size <= 15 AND p_type = 'STANDARD'
JOIN eur ON ps.ps_suppkey = eur.s_suppkey
WHERE ps.ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM partsupp ps2 JOIN eur e2 ON ps2.ps_suppkey = e2.s_suppkey
    WHERE ps2.ps_partkey = ps.ps_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


QUERIES["tpch_q2_min_cost_supplier"] = QuerySpec(q2_min_cost_supplier, Q2_SQL)


def q9_product_type_profit(
    spark: SparkSession, sf_dir: str, layout: str = "flat"
) -> DataFrame:
    """TPC-H Q9: profit by supplier nation and order year over one
    product line (p_name LIKE '%bolt%').

    Money math: amount = extprice*(1-disc) - supplycost*qty, computed as
    ext_c2*(100-disc_c2) - cost_c2*qty_c2 — all exact BIGINT cents^2, so
    partial aggregation order can't perturb the sum; one double division
    by 10^4 at the end.

    Plan: the name-filtered part (~1/8 of the dim) broadcasts into the
    derived partsupp to prune it BEFORE the fact join; supplier->nation
    rides a broadcast onto lineitem pre-shuffle. Two fact shuffles
    remain (li x partsupp on the composite key, then x orders on
    orderkey) — the TPC-H q9 minimum.

    ``layout="bucketed"`` (round 9): TWO layouts serve this query —
    lineitem from its COMPOSITE (l_partkey, l_suppkey) bucketing (a
    second persisted layout of the same table; per-query layout choice
    is the multi-index analog) and orders from the orderkey layout.
    The li⋈ps join then reads lineitem with NO exchange (only the
    derived, part-pruned ps side shuffles — ~1/8 of partsupp vs the
    600M-row fact), and the orders side of the orderkey join keeps its
    bucket partitioning; the one remaining fact exchange is the joined
    frame's re-key onto orderkey, the TPC-H q9 minimum for a
    single-copy... which two layouts of lineitem exactly circumvent on
    the scan side.
    """
    part = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    ps = (
        derived_partsupp(spark, sf_dir)
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost")
    )
    supp_nation = F.broadcast(
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    if layout == "bucketed":
        from multi_report_etl_pipeline_spark.operators.layout import (  # noqa: PLC0415
            bucket_facts,
        )

        li_src = spark.table(
            bucket_facts(
                spark, sf_dir, {"lineitem": ("l_partkey", "l_suppkey")}
            )["lineitem"]
        )
    else:
        li_src = read_table(spark, sf_dir, "lineitem")
    li = li_src.select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    if layout != "bucketed":
        # flat: nation rides the broadcast onto lineitem BEFORE its
        # composite-key shuffle (one pass, the string is small)
        li = li.join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
    orders = _fact(spark, sf_dir, "orders", layout).select(
        "o_orderkey", "o_orderdate"
    )
    ext_c2 = F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")
    disc_c2 = F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")
    qty_c2 = F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)")
    cost_c2 = F.expr("CAST(ps_supplycost * 100 + 0.5 AS BIGINT)")
    joined = li.join(
        ps,
        (F.col("l_partkey") == F.col("ps_partkey"))
        & (F.col("l_suppkey") == F.col("ps_suppkey")),
    )
    if layout == "bucketed":
        # bucketed: the SMJ must consume the SORTED bucketed scan
        # DIRECTLY (an intervening broadcast join erases the scan's
        # reported ordering and forces a 600M-row 64-way re-sort —
        # measured as an executor OOM at sf100); the bounded
        # supplier⋈nation broadcast attaches to the ~1/8-pruned joined
        # stream instead
        joined = joined.join(
            supp_nation, F.col("l_suppkey") == F.col("s_suppkey")
        )
    return (
        joined.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (ext_c2 * (F.lit(100).cast("bigint") - disc_c2) - cost_c2 * qty_c2)
            .alias("amount_c4"),
        )
        .groupBy("nation", "o_year")
        .agg(
            (F.sum("amount_c4").cast("double") / F.lit(10000.0)).alias("sum_profit")
        )
    )


Q9_SQL = f"""
WITH {PARTSUPP_CTES}
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                - CAST(ROUND(ps_supplycost * 100) AS BIGINT)
                  * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS sum_profit
FROM lineitem
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, o_year
"""


QUERIES["tpch_q9_product_type_profit"] = QuerySpec(q9_product_type_profit, Q9_SQL)
QUERIES["tpch_q9_bucketed"] = QuerySpec(q9_product_type_profit_bucketed, Q9_SQL)


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose stock value in one region exceeds a
    fraction of the region's total stock value.

    Substitution: scoped to region EUROPE instead of a single nation
    (the sf0.001 fixture has zero suppliers in several nations; a
    region is always populated). Fraction = 1/300 of the total.

    Exactness: value = supplycost * availqty as BIGINT cents
    (cost_c2 * qty), and the HAVING compares val_c2 * 300 > total_c2 in
    integers — no double threshold wobble on either engine. The global
    total rides back as a 1-row broadcast crossJoin, the same
    scalar-subquery decorrelation the pristine plan wants.
    """
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_keys = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey")
    )
    supp = F.broadcast(
        read_table(spark, sf_dir, "supplier")
        .join(eur_keys, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    ps = derived_partsupp(spark, sf_dir).join(
        supp, F.col("ps_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    val_c2 = (
        F.expr("CAST(ps_supplycost * 100 + 0.5 AS BIGINT)") * F.col("ps_availqty")
    )
    grouped = ps.groupBy("ps_partkey").agg(F.sum(val_c2).alias("val_c2"))
    total = grouped.agg(F.sum("val_c2").alias("total_c2"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("val_c2") * 300 > F.col("total_c2"))
        .select(
            "ps_partkey",
            (F.col("val_c2").cast("double") / 100.0).alias("stock_value"),
        )
    )


Q11_SQL = f"""
WITH {PARTSUPP_CTES},
eur_ps AS (
    SELECT ps_partkey,
           CAST(ROUND(ps_supplycost * 100) AS BIGINT) * ps_availqty AS val_c2
    FROM partsupp
    JOIN supplier ON ps_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT ps_partkey,
       CAST(SUM(val_c2) AS DOUBLE) / 100.0 AS stock_value
FROM eur_ps
GROUP BY ps_partkey
HAVING SUM(val_c2) * 300 > (SELECT SUM(val_c2) FROM eur_ps)
"""


QUERIES["tpch_q11_important_stock"] = QuerySpec(q11_important_stock, Q11_SQL)


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier count per (brand, type, size) for
    qualifying parts, excluding blacklisted suppliers.

    Substitutions: p_type NOT LIKE 'MEDIUM POLISHED%' -> <> 'MEDIUM'
    (single-word types); the 'customer complaints' comment LIKE becomes
    s_acctbal < 1000 — same NOT-IN-subquery shape, a small exclusion
    set. The NOT IN decorrelates to a broadcast LEFT-ANTI join (keys
    are never NULL, so anti-join == NOT IN here).

    Plan: part's triple filter broadcasts into partsupp; the anti join
    also broadcasts; the only shuffle is the final distinct-count agg.
    """
    part = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "MEDIUM")
            & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = F.broadcast(
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    return (
        derived_partsupp(spark, sf_dir)
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(excluded, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = f"""
WITH {PARTSUPP_CTES}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
"""


QUERIES["tpch_q16_parts_supplier_relationship"] = QuerySpec(
    q16_parts_supplier_relationship, Q16_SQL
)


def q20_potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers in one region holding excess stock ( >50%
    of a year's shipped quantity) of a product line ('red%' parts).

    Substitution: scoped to region ASIA instead of nation 'CANADA'
    (fixture nations can be empty at sf0.001); s_address -> s_acctbal
    in the output.

    Exactness: the half-of-shipped threshold compares
    ps_availqty * 200 > sum(qty_c2) in BIGINT — equivalent to
    availqty > 0.5 * sum(qty) with no double rounding on either side.

    Plan: 'red%' parts broadcast-prune BOTH the 1997 lineitem slice and
    partsupp before the (partkey, suppkey) shuffle join; the qualifying
    suppkey set then semi-prunes the supplier dim. One fact shuffle.
    """
    red = F.broadcast(
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li97 = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(red, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.expr("CAST(l_quantity * 100 + 0.5 AS BIGINT)")).alias("qty_c2")
        )
    )
    ps = derived_partsupp(spark, sf_dir).join(
        red, F.col("ps_partkey") == F.col("p_partkey")
    )
    qualified = (
        ps.join(
            li97,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") * 200 > F.col("qty_c2"))
        .select("ps_suppkey")
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_keys = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey")
    )
    return (
        read_table(spark, sf_dir, "supplier")
        .join(asia_keys, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualified, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = f"""
WITH {PARTSUPP_CTES}
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
      SELECT ps_suppkey FROM partsupp
      WHERE ps_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND ps_availqty * 200 > (
          -- no COALESCE: a (part, supp) with no 1997 shipments yields a
          -- NULL sum, the comparison is NULL, and the row is excluded —
          -- matching the Spark side's INNER join against the 1997 slice
          SELECT SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
          FROM lineitem
          WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
            AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
ORDER BY s_name
"""


QUERIES["tpch_q20_potential_part_promotion"] = QuerySpec(
    q20_potential_part_promotion, Q20_SQL
)
