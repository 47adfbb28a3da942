"""Spark's codegen class cache is JVM-wide and LRU: when the classes of
the engine's working set do not fit, every request recompiles them.
The session default must hold one round of the served queries, so a
repeat of the round compiles (next to) nothing: a few classes of the
plan variants AQE picks at run time for the multi-join queries (q9,
q21 compiled 0-7 on a repeat), against ~300 when the cache thrashes."""

from __future__ import annotations

from multi_report_etl_pipeline_spark.queries import all_queries, reference
from multi_report_etl_pipeline_spark.session import codegen_stats
from tests.conftest import SF_DIR

# perfbench's olap_serving mix and reports_daily's reports and probes
ROUND = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "tpch_q18_large_volume_customers",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q3_bucketed",
    "tpch_q18_bucketed",
    "events_windowed_counts",
    "events_sessionization",
    "events_gap_filled_hourly_rollup",
    "docs_bm25_topk",
    "emb_ivf_indexed_topk",
    "docs_hybrid_rrf_topk",
    "report_mortgage_portfolio",
    "report_restructuring_pipeline",
    "report_commercial_promises",
    "quality_view_counts",
    "quality_duplicate_operations",
    "quality_null_keys",
    "quality_date_parse_failures",
)


def test_repeat_round_compiles_no_new_classes(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    registry = all_queries()

    def one_round() -> int:
        before = codegen_stats(spark)["compiles"]
        for name in ROUND:
            registry[name].fn(spark, SF_DIR).collect()
        return codegen_stats(spark)["compiles"] - before

    reference.materialize_staging(spark, SF_DIR, n_splits=4)
    try:
        warm = one_round()
        repeat = one_round()
    finally:
        reference.clear_materialized_staging(SF_DIR)
    assert warm > 0
    assert repeat <= 15, f"a repeated round compiled {repeat} classes (warm round {warm})"
