"""Distributed ranking operator: exactness vs the single-task window
forms it replaces."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark.operators.ranking import (
    global_ntile,
    ntile_from_rank,
    with_global_rank,
)


def test_global_rank_equals_window_row_number(spark):
    """Range-sort + offset rank must equal ROW_NUMBER over the global
    order, row for row, including across partition boundaries."""
    df = spark.range(0, 9973).select(
        F.col("id"),
        (F.hash(F.col("id")) % 1000).alias("key"),
    )
    got = {
        (r["id"], r["global_rank"])
        for r in with_global_rank(
            df, [F.asc("key"), F.asc("id")], num_partitions=7
        ).collect()
    }
    w = Window.orderBy(F.asc("key"), F.asc("id"))
    want = {
        (r["id"], r["rn"])
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize(("n", "k"), [(6, 4), (5, 4), (4, 4), (3, 4), (100, 7), (9973, 4)])
def test_ntile_piecewise_matches_sql_ntile(spark, n, k):
    """The piecewise rank->bucket arithmetic must equal SQL NTILE for
    awkward n/k (the closed form floor((i-1)k/n)+1 fails at n=6,k=4)."""
    df = spark.range(1, n + 1).select(F.col("id").alias("rank"))
    got = [
        r["b"]
        for r in df.select(
            "rank", ntile_from_rank(F.col("rank"), n, k).alias("b")
        ).orderBy("rank").collect()
    ]
    want = [
        r["b"]
        for r in df.select(
            "rank", F.ntile(k).over(Window.orderBy("rank")).alias("b")
        ).orderBy("rank").collect()
    ]
    assert got == want


def test_global_ntile_equals_window_ntile(spark):
    """End-to-end: distributed NTILE(4) over a non-trivially-ordered
    frame equals the window form."""
    df = spark.range(0, 2003).select(
        F.col("id"),
        (F.hash(F.col("id") * 7) % 100).alias("score"),
    )
    order = [F.desc("score"), F.asc("id")]
    got = {
        (r["id"], r["bucket"])
        for r in global_ntile(df, order, 4, "bucket", num_partitions=5).collect()
    }
    want = {
        (r["id"], r["bucket"])
        for r in df.withColumn(
            "bucket", F.ntile(4).over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "fn_name", ["customer_rfm_segments", "customer_abc_analysis"]
)
@pytest.mark.parametrize("strategy", ["distributed", "selectoin"])
def test_unknown_strategy_raises(spark, fn_name, strategy):
    """A misspelled or retired strategy is an error, never a silent
    fall-through to some other plan."""
    from tests.conftest import SF_DIR

    from multi_report_etl_pipeline_spark.queries import tpch

    with pytest.raises(ValueError, match="strategy"):
        getattr(tpch, fn_name)(spark, SF_DIR, strategy=strategy)


def test_rfm_selection_strategy_agrees(spark):
    """The selection tier (boundary order statistics + in-row scoring,
    the extreme-scale shape since round 8) must be value-identical to
    the window form — boundary ties split at the same custkey."""
    from tests.conftest import SF_DIR

    from multi_report_etl_pipeline_spark.queries.tpch import (
        customer_rfm_segments,
    )

    a = sorted(
        map(tuple, customer_rfm_segments(spark, SF_DIR, strategy="window").collect())
    )
    b = sorted(
        map(
            tuple,
            customer_rfm_segments(spark, SF_DIR, strategy="selection").collect(),
        )
    )
    assert a == b


def test_select_order_statistics_exact(spark):
    """select_order_statistics must reproduce the exact (value, tie)
    order statistics a full sort would give, including boundary-tie
    splits, on a frame engineered with heavy ties and a tiny bucket
    count (forcing multiple narrowing rounds)."""
    from multi_report_etl_pipeline_spark.operators.ranking import (
        select_order_statistics,
    )

    rows = [(i, (i * 7919) % 13, i * 3 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, tie long")
    ordered = sorted((v, t) for _, v, t in rows)
    specs = {
        f"k{r}": {"value": F.col("v"), "tie": "tie", "rank": r}
        for r in (1, 125, 250, 375, 500)
    }
    got = select_order_statistics(df, specs, n_buckets=4)
    for r in (1, 125, 250, 375, 500):
        v_star, c_star = got[f"k{r}"]
        want_v, want_t = ordered[r - 1]
        assert v_star == want_v, (r, v_star, want_v)
        # c_star None means the whole tied run sorts at-or-before the
        # boundary; otherwise it must be the boundary row's tie value
        run = [t for v, t in ordered if v == want_v]
        if c_star is None:
            assert want_t == run[-1], (r, want_t, run[-1])
        else:
            assert c_star == want_t, (r, c_star, want_t)


def test_abc_selection_strategy_agrees(spark):
    """The weighted-prefix selection ABC path must match the
    cumulative-window form exactly, including boundary-tie splits."""
    from tests.conftest import SF_DIR

    from multi_report_etl_pipeline_spark.queries.tpch import (
        customer_abc_analysis,
    )

    a = sorted(
        map(
            tuple,
            customer_abc_analysis(spark, SF_DIR, strategy="window").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            customer_abc_analysis(spark, SF_DIR, strategy="selection").collect(),
        )
    )
    assert a == b


def test_select_cumulative_boundaries_exact(spark):
    """Weighted-prefix boundaries must match a literal sorted cumsum,
    including splits inside heavy tied runs and with a tiny bucket
    count forcing several narrowing rounds."""
    from multi_report_etl_pipeline_spark.operators.ranking import (
        cumulative_prefix_expr,
        select_cumulative_boundaries,
    )

    # heavy ties: revenue values repeat across many ids
    rows = [(i, ((i * 37) % 11 + 1) * 100) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, rev long")
    cases = {"A": (2, 1), "B": (5, 4), "T": (10, 9)}
    spec = {
        k: {"value": -F.col("rev"), "tie": "id", "weight": F.col("rev"),
            "a": a, "b": b}
        for k, (a, b) in cases.items()
    }
    res = select_cumulative_boundaries(df, spec, n_buckets=4)
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    total = sum(r[1] for r in rows)
    for k, (a, b) in cases.items():
        want = set()
        cum = 0
        for rid, rev in ordered:
            cum += rev
            if a * cum <= b * total:
                want.add(rid)
            else:
                break
        got = {
            r["id"]
            for r in df.filter(
                cumulative_prefix_expr(
                    F.col("rev"), F.col("id"), res[k], descending=True
                )
            ).collect()
        }
        assert got == want, (k, len(got), len(want))


def test_rfm_narrow_strategy_agrees(spark):
    """The middle (narrow-join) tier must also be value-identical."""
    from tests.conftest import SF_DIR

    from multi_report_etl_pipeline_spark.queries.tpch import (
        customer_rfm_segments,
    )

    a = sorted(
        map(tuple, customer_rfm_segments(spark, SF_DIR, strategy="window").collect())
    )
    b = sorted(
        map(tuple, customer_rfm_segments(spark, SF_DIR, strategy="narrow").collect())
    )
    assert a == b


def test_global_ntile_empty_input(spark):
    """Zero rows must produce zero rows, not a planning error (offsets
    array is built dense over the partition range, counts all zero)."""
    from pyspark.sql import functions as F

    df = spark.range(0).select(F.col("id"), F.col("id").alias("v"))
    out = global_ntile(df, [F.asc("v"), F.asc("id")], 4, "bucket", num_partitions=3)
    assert out.count() == 0
