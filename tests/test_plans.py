"""Physical-plan audits: pin the scale-critical plan properties so a
refactor that silently de-optimizes fails here, not at 100 TB.

Checked properties (SURVEY.md §4, build brief "Optimize for scale"):
- filters reach the parquet scan (PushedFilters)
- dimension joins broadcast (BroadcastHashJoin)
- row_number()=1 dedup compiles to WindowGroupLimit (pre-shuffle top-1)
- aggregates keep map-side partials (partial_ prefix in HashAggregate)
- hot paths stay in WholeStageCodegen
"""

from __future__ import annotations

import pytest

from multi_report_etl_pipeline_spark.plans import (
    assert_plan_contains,
    physical_plan,
    pushed_filters,
)
from multi_report_etl_pipeline_spark.queries.reference import QUERIES as REF_QUERIES
from multi_report_etl_pipeline_spark.queries.tpch import QUERIES as TPCH_QUERIES
from tests.conftest import SF_DIR


def test_q1_filter_pushdown_and_partial_agg(spark):
    df = TPCH_QUERIES["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "LessThan(l_shipdate" in pushed, pushed
    plan = physical_plan(df)
    assert "partial_sum" in plan or "partial_count" in plan, plan[:2000]
    # "*(n)" codegen markers are hidden inside AdaptiveSparkPlan until a
    # query runs; audit codegen on the same plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        no_aqe = TPCH_QUERIES["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
        assert "*(" in physical_plan(no_aqe), physical_plan(no_aqe)[:2000]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q5_broadcasts_dimensions(spark):
    df = TPCH_QUERIES["tpch_q5_local_supplier_volume"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_q3_topk_is_take_ordered(spark):
    df = TPCH_QUERIES["tpch_q3_shipping_priority"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_window_dedup_compiles_to_group_limit(spark):
    df = REF_QUERIES["clean_contacts_primary"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan, plan[:2000]
    # partial (pre-shuffle) and final group limits both present
    assert "Partial" in plan.split("WindowGroupLimit", 2)[-1] or plan.count("WindowGroupLimit") >= 2


def test_field_filter_reaches_scan(spark):
    """The channel filter sits below the window (reference 01:190) and
    must survive into the scan's data filters."""
    df = REF_QUERIES["clean_contacts_field"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    scan_section = plan[plan.find("FileScan parquet") :]
    assert "l_linenumber" in scan_section[:1200], scan_section[:1200]


def test_survivor_agg_is_partial_min_by(spark):
    """The materialized staging path must stay a partial aggregation:
    min_by reduces map-side, so the account exchange carries ~1 row per
    account per view, never the fact table."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark import domain, staging
    from multi_report_etl_pipeline_spark.io import read_table

    orders = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    lineitem = read_table(spark, SF_DIR, "lineitem")
    sact = domain.stg_activities_df(
        lineitem, F.broadcast(orders), repartition_by_account=8
    )
    plan = physical_plan(staging.combined_contact_survivors(sact))
    assert "partial_min_by" in plan, plan[:3000]
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # exactly the explicit account repartition; the aggregation must NOT
    # add a second hash exchange (its requirement is already satisfied)
    assert len(exchanges) == 1 and "account_id" in exchanges[0], exchanges


def test_lsh_ann_is_single_gemm_stage(spark):
    """emb_lsh_ann: one Arrow-batched grouped-pandas kernel (the GEMM),
    no nested-loop join anywhere."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import emb_lsh_ann

    plan = physical_plan(emb_lsh_ann(spark, SF_DIR))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_minhash_stays_jvm_side(spark):
    """docs_minhash_near_dup is pure codegen: md5-48 signatures permuted
    by the universal-hash family in a partial agg (the engine-portable
    convention its DuckDB value oracle reproduces), no Python evaluation
    node in the plan."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_minhash_near_dup"].fn(spark, SF_DIR))
    assert "md5" in plan, plan[:2000]
    assert "partial_min" in plan, plan[:2000]
    for python_node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert python_node not in plan, python_node


def test_report_joins_share_account_partitioning(spark):
    """The report join chain must not introduce exchanges beyond the
    per-input hash partitioning on account_id."""
    df = REF_QUERIES["report_mortgage_portfolio"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # 3 inputs (accounts, primary, field) -> at most 3 hash exchanges, and
    # all of them on account_id
    assert len(exchanges) <= 3, plan[:3000]
    assert all("account_id" in l for l in exchanges), exchanges


def test_brute_topk_gemm_prunes_without_corpus_crossjoin(spark):
    """emb_cosine_topk's GEMM-prune path: the corpus flows through ONE
    Arrow mapInPandas kernel (candidate vectors carried through — no
    corpus join-back, no |Q| x |C| cross join in the plan); the final
    rescoring join touches only the broadcast query set."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["emb_cosine_topk"].fn(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_vocabulary_partial_agg_and_take_ordered(spark):
    """Corpus heavy hitters: map-side partials on the token agg and a
    TakeOrdered top-k (no global sort of the vocabulary)."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_vocabulary"].fn(spark, SF_DIR))
    assert "partial_count" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning(token") == 1, plan[:2000]


def test_tfidf_reuses_doc_partitioning_and_group_limits(spark):
    """tf-idf: the per-doc top-k compiles to WindowGroupLimit, the
    1-row corpus count broadcasts, and the (doc, token) tf aggregation
    adds NO exchange beyond the token-keyed df one plus the fan-out."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_tfidf_top_terms"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:3000]
    # the only planner-inserted (ENSURE_REQUIREMENTS) exchange is the
    # token-keyed df aggregation; the tf agg and the per-doc window ride
    # the existing doc partitioning (REPARTITION_BY_NUM = fixture fan-out)
    ensure = [
        line
        for line in plan.splitlines()
        if "ENSURE_REQUIREMENTS" in line and "hashpartitioning(doc_id" in line
    ]
    assert not ensure, ensure


def test_chunking_is_narrow_after_fanout(spark):
    """Chunking must stay a narrow map: no exchange beyond the fixture
    fan-out repartition, no Python in the plan."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_chunks"].fn(spark, SF_DIR))
    assert plan.count("Exchange") <= 1, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_cosine_dedup_survivors_via_anti_join(spark):
    """The survivor step must be a left_anti join on the id (dropped-set
    shuffle), not a window or a second quadratic pass."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = physical_plan(similarity.cosine_dedup(emb, 0.4))
    assert "LeftAnti" in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]


def test_snapshot_diff_is_one_full_outer_join(spark):
    """Reconciliation must be a single full-outer equi-join on the key:
    co-partitioned sides, no broadcast of a snapshot-sized input, no
    second join for the comparison."""
    from multi_report_etl_pipeline_spark.operators.snapshot import snapshot_diff

    old = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    new = spark.range(500, 1500).selectExpr("id AS k", "id * 3 AS v")
    plan = physical_plan(snapshot_diff(old, new, key_cols=["k"]))
    assert plan.count("FullOuter") == 1, plan[:3000]


def test_split_assignment_is_narrow_projection(spark):
    """Split assignment is a pure projection: no exchange, no python."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.sampling import split_assignment

    docs = read_table(spark, SF_DIR, "documents")
    plan = physical_plan(split_assignment(docs, "doc_id"))
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_funnel_has_bounded_per_user_state(spark):
    """The funnel must never hold a user's full event history inside one
    row: no collect_list/sort_array (unspillable per-row arrays — a 10M
    -event bot user OOMs the task at 100 TB). The window form's sort
    buffer spills; exactly one data-proportional exchange (user_id)."""
    from multi_report_etl_pipeline_spark.queries.events import conversion_funnel

    plan = physical_plan(conversion_funnel(spark, SF_DIR))
    assert "collect_list" not in plan, plan[:3000]
    assert "sort_array" not in plan, plan[:3000]
    assert "Window" in plan, plan[:3000]


def test_curation_evaluates_each_regex_once_no_text_filter(spark):
    """The round-4 fix pinned structurally: the keep-predicate is folded
    into the survivor aggregation, so (a) one documents scan, (b) each
    marker regex appears exactly ONCE in the physical plan — the old
    filter-node form re-evaluated the scoring CASE per reference (no
    subexpression elimination in filters) and pushed the regex pass
    into the single-split scan stage."""
    from multi_report_etl_pipeline_spark.io import fan_out, read_table
    from multi_report_etl_pipeline_spark.operators import text

    docs = fan_out(read_table(spark, SF_DIR, "documents"), spark, cols=("doc_id",))
    plan = physical_plan(text.curation_survivors(docs))
    assert plan.count("Scan parquet") == 1, plan[:3000]
    en_marker = "the|and|of|to|is"
    assert plan.count(en_marker) == 1, f"count={plan.count(en_marker)}"


def test_q1_money_math_avoids_per_row_round(spark):
    """q1 converts money to long cents with add-half truncation; Spark's
    ROUND(double) is per-row BigDecimal (measured 35% of the agg loop
    at sf1). Per-row round on input columns must not reappear —
    post-agg rounds over the 6 result rows are fine."""
    from multi_report_etl_pipeline_spark.queries.tpch import q1_pricing_summary

    plan = physical_plan(q1_pricing_summary(spark, SF_DIR))
    assert "round(l_" not in plan, plan[:3000]
    assert "+ 0.5" in plan, plan[:3000]


def test_repetition_stats_is_narrow_codegen(spark):
    """Repetition stats are a pure projection: the per-doc mode comes
    from array_sort + one fold, never from explode + shuffle or Python."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.text import repetition_stats

    docs = read_table(spark, SF_DIR, "documents")
    plan = physical_plan(repetition_stats(docs))
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]  # no explode


def test_span_dedup_election_is_partial_min_by_agg(spark):
    """The first-occurrence election must be a partial-aggregated
    min_by groupBy (map-side combine absorbs Zipf-hot boilerplate
    spans), never a window — a window-min funnels every occurrence of
    a hot span through one task at corpus scale."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.dedup import span_dedup

    docs = read_table(spark, SF_DIR, "documents")
    plan = physical_plan(span_dedup(docs))
    assert "Window" not in plan, plan[:3000]
    assert "min_by" in plan or "ObjectHashAggregate" in plan, plan[:3000]
    # exactly two exchanges: span-text election + doc-id reassembly
    # (no fan_out in this construction, so a reintroduced join-back or
    # window shuffle fails here)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 2, plan[:3000]


def test_weighted_sample_limits_before_global_rank_window(spark):
    """weighted_sample's unpartitioned row_number window is safe ONLY
    above the top-k: the plan must be Window -> TakeOrderedAndProject
    (per-partition heaps, k rows survive), with no Exchange and no
    full Sort anywhere. A reorder that ranks before the limit would
    funnel the whole corpus through one task's global sort."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_weighted_sample"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # plans print top-down: the Window node must sit ABOVE the top-k
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan[:3000]
    assert "Exchange" not in plan, plan[:3000]
    assert "\n+- Sort" not in plan and "- Sort " not in plan, plan[:3000]


def test_bm25_scoring_fold_evaluates_split_once(spark):
    """The BM25 score is one lambda-bound fold: the tokenizing split
    must appear exactly ONCE in the executed plan. A regression to
    aliased-column binding collapses back to N inlined splits
    (CollapseProject), and a filter pushed below the projection
    re-evaluates the whole fold per row — both show up as extra
    split() occurrences here."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import text

    docs = read_table(spark, SF_DIR, "documents")
    stats = text.bm25_corpus_stats(docs, ["spark", "window"])
    df = text.bm25_topk(docs, ["spark", "window"], k=5, stats=stats)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan[:2000]


def test_unigram_logprob_broadcasts_lm_and_reuses_partitioning(spark):
    """The V-row LM must reach the exploded token stream as a broadcast
    hash join (never a sort-merge shuffle of the corpus), and the
    per-doc sum must partial-aggregate on the fan_out's existing doc_id
    partitioning — exactly one data Exchange in the whole plan. A
    regression that shuffles tokens for the join, or re-exchanges for
    the aggregation, fails here."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_unigram_logprob"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("partial_sum") == 1, plan[:3000]
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, plan[:3000]


def test_dsir_sample_broadcasts_estimator_with_takeordered_cut(spark):
    """The ≤B-row estimator must broadcast into the token stream (no
    corpus shuffle for the join), the per-doc sum must reuse the
    fan_out's doc_id partitioning (one data Exchange total), and the
    top-k must compile to TakeOrderedAndProject — never a global
    Sort."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_dsir_sample"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "\n+- Sort" not in plan and "- Sort " not in plan, plan[:3000]
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, plan[:3000]


def test_bpe_tokenize_is_a_pure_narrow_map(spark):
    """Tokenizer application must stay embarrassingly parallel: no
    generator, no join, no aggregation node, and the only Exchange is
    fan_out's repartition — the merges are literals in one chained
    replace + fold projection, and the tokenizing split appears exactly
    once (a regression to per-merge re-splitting, a join against a word
    table, or an explode all fail here)."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_bpe_tokenize"].fn(spark, SF_DIR))
    assert "Generate" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "Aggregate" not in plan.replace("aggregate(", ""), plan[:3000]
    assert plan.count("Exchange") == 1, plan[:3000]
    assert plan.count("split(trim(regexp_replace(lower(") == 1, plan[:3000]


def test_int8_topk_keeps_the_gemm_prune_shape(spark):
    """The int8 path must keep brute_topk's scale shape: Arrow-batched
    GEMM prune (MapInPandas), quantized query side broadcast back as a
    hash join, per-query top-k as WindowGroupLimit — never a cartesian
    or nested-loop join of the corpus."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["emb_int8_topk"].fn(spark, SF_DIR))
    assert "MapInPandas" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_logreg_scoring_is_narrow_map(spark):
    """docs_quality_logreg's returned plan is scoring only (training ran
    as bounded per-iteration gradient aggs of d+2 cells): a pure
    projection over the scan with the final weights compiled in as
    literals — no Exchange, no Python evaluation nodes."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_quality_logreg"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan[:3000]
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_pca_scoring_is_narrow_fold(spark):
    """emb_pca_projection's returned plan is the scoring pass only (the
    moment pass ran as a bounded side job): a JVM zip_with/aggregate
    fold against dim+1 literals — no Exchange, no Python nodes."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["emb_pca_projection"].fn(spark, SF_DIR))
    # the only exchange is the fixture fan_out repartition; the scoring
    # itself must not require one
    assert "ENSURE_REQUIREMENTS" not in plan, plan[:3000]
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, node


def test_bloom_corpus_side_is_narrow_prescreen(spark):
    """docs_bloom_decontaminate: the corpus shingle stream is filtered
    by the literal bitmask BEFORE any join — the only join in the plan
    is the broadcast verification of the (much smaller) candidate
    stream; no shuffle join, no Python nodes."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_bloom_decontaminate"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 1, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "ShuffledHashJoin" not in plan, plan[:3000]
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_fuzzy_matches_has_no_cartesian(spark):
    """customer_fuzzy_matches: candidates come from equi-joins on the
    blocking keys — no cartesian/nested-loop pair generation, and the
    levenshtein verification runs JVM-side (no Python nodes)."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["customer_fuzzy_matches"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_blocked_near_dup_has_no_cartesian(spark):
    """emb_blocked_near_dup (round-6 replacement for the quadratic
    registry entry): candidate pairs come from per-cluster Arrow GEMMs
    after a co-location shuffle — the full-corpus crossJoin must never
    appear in any plan reachable from the public registry."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["emb_blocked_near_dup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "FlatMapGroupsInPandas" in plan, plan[:3000]


def test_hash_embed_topk_only_exchange_is_broadcast(spark):
    """Embedding must stay a narrow fold (no Generate/explode, the
    tokenizing split evaluated once per side) and retrieval must join
    the 1-row query vector by BROADCAST — a regression to an exploded
    (doc, idx) shuffle or a sort-merge join fails here. TakeOrdered
    caps the result without a global sort."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_hash_embed_topk"].fn(spark, SF_DIR))
    assert "Generate" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # corpus-side embed + query-side embed: the split runs once per side
    assert plan.count("split(trim(regexp_replace(lower(") <= 2, plan[:3000]


def test_cms_sketch_aggs_are_partial(spark):
    """Both sketch-building aggregations (vocab-keyed counts, cell-keyed
    counter sums) must keep map-side partials — the partial agg IS the
    distributed sketch merge — and the probe join must broadcast against
    the bounded sketch."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_cms_frequencies"].fn(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_duplicate_runs_election_is_partial_agg(spark):
    """The first-occurrence election must partial-aggregate on gram text
    (map-side combine absorbs hot boilerplate) and the run assembly must
    not re-shuffle more than the doc-keyed window requires."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_duplicate_runs"].fn(spark, SF_DIR))
    assert "partial_min" in plan or "partial_count" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_regression_stats_single_pass_partial_moments(spark):
    """All six sufficient statistics must come from ONE partial-
    aggregated scan of lineitem — no self-join, no second scan."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["lineitem_regression_stats"].fn(spark, SF_DIR))
    assert "partial_sum" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1, plan[:3000]


def test_ewma_anomaly_windows_share_one_type_exchange(spark):
    """The lag dot-product and the trailing z-frame are windows over the
    same (event_type, h) ordering — they must share one partitioning,
    not re-shuffle per window."""
    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    plan = physical_plan(QUERIES["events_ewma_anomaly"].fn(spark, SF_DIR))
    # exchanges: fan-out/agg for hourly counts + spine join + ONE window
    # partitioning; a per-window re-shuffle would add hashpartitioning
    # nodes keyed the same way twice
    assert plan.count("hashpartitioning(event_type") <= 2, plan[:3000]


def test_q18_aggregates_lineitem_before_joining(spark):
    """The order-quantity aggregate must be computed ONCE from a single
    lineitem scan (partial agg) and drive both membership and output —
    a regression to the literal two-scan IN-subquery form fails here —
    with TakeOrdered capping the result."""
    plan = physical_plan(
        TPCH_QUERIES["tpch_q18_large_volume_customers"].fn(spark, SF_DIR)
    )
    assert plan.count("lineitem.parquet") <= 1 or plan.count("Scan parquet") <= 3, plan[:3000]
    assert "partial_sum" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_q10_pushes_flag_filter_and_broadcasts_nation(spark):
    df = TPCH_QUERIES["tpch_q10_returned_items"].fn(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_returnflag" in pushed, pushed
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_trailing_range_window_single_exchange(spark):
    """Both window aggregates share one custkey partitioning; the range
    frame must not introduce a second exchange or a global sort."""
    plan = physical_plan(
        TPCH_QUERIES["orders_trailing_30d_stats"].fn(spark, SF_DIR)
    )
    assert plan.count("hashpartitioning(o_custkey") <= 1, plan[:3000]
    assert "rangepartitioning" not in plan.lower() or "Window" in plan, plan[:3000]


def test_hourly_top_users_uses_window_group_limit(spark):
    """The per-hour top-k must pre-prune to k rows per hour before the
    exchange (WindowGroupLimit), and the aggregate — not the event
    stream — is what the rank window sorts."""
    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    plan = physical_plan(QUERIES["events_hourly_top_users"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "partial_count" in plan, plan[:3000]


def test_session_paths_aggregates_before_takeordered(spark):
    """Path counting is a hash agg over the per-user-day aggregate with
    a TakeOrdered cut — no global sort of the event stream."""
    from multi_report_etl_pipeline_spark.queries.events import QUERIES

    plan = physical_plan(QUERIES["events_session_paths"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "partial_count" in plan or "partial_finalmerge" in plan.lower(), plan[:3000]


def test_canonical_selection_election_is_partial_agg(spark):
    """The per-group winner must come from a group-keyed max_by partial
    aggregation (map-side combine absorbs huge boilerplate groups) —
    not a window over all members — with no cartesian anywhere."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_canonical_selection"].fn(spark, SF_DIR))
    assert "partial_max_by" in plan or "partial_max" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_quality_checks_single_rule_scan(spark):
    """All scan rules must fold into ONE aggregation pass over the
    flagged frame (a per-rule job regression fails here)."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["orders_quality_checks"].fn(spark, SF_DIR))
    # orders appears in the rule scan and the uniqueness pass + the
    # total-count side of the dup row: 3 order scans max, 1 customer
    assert plan.count("orders.parquet") <= 3, plan[:3000]
    assert "partial_sum" in plan or "partial_count" in plan, plan[:3000]


def test_q4_decorrelates_without_semi_shuffle(spark):
    """tpch_q4: EXISTS decorrelates to inner join + per-order dedup (a
    left-semi form would force the full fact through the probe's right
    side; measured 4x slower at sf1). The quarter filter is pushed to
    the orders scan and the dedup agg keys on o_orderkey."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["tpch_q4_order_priority"].fn(spark, SF_DIR))
    assert "LeftSemi" not in plan, plan[:3000]
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[:3000]
    assert "HashAggregate" in plan, plan[:3000]


def test_q21_single_pass_over_the_fact(spark):
    """tpch_q21: the EXISTS / NOT EXISTS probes AND the waiting
    supplier's identity fold into one per-order aggregate, so the
    lineitem⋈orders frame is consumed exactly ONCE — one lineitem scan,
    no semi/anti join re-walking the fact, no cartesian/nested-loop
    expansion, top-100 as TakeOrderedAndProject."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["tpch_q21_suppliers_kept_waiting"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "LeftSemi" not in plan, plan[:3000]
    assert "LeftAnti" not in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert plan.count("lineitem.parquet") == 1, plan[:3000]


def test_q17_avg_threshold_reuses_partkey_partitioning(spark):
    """tpch_q17: the brand slice broadcast-prunes lineitem BEFORE the
    per-part stats agg, and the stats join back is partkey-co-partitioned
    with the agg — the pruned fact shuffles at most once."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["tpch_q17_small_quantity_revenue"].fn(spark, SF_DIR))
    # both the semi prune and any stats distribution join are broadcasts
    # at fixture scale; the only hash exchanges key on l_partkey
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "l_partkey" in m.group(1) or "sp_partkey" in m.group(1), m.group(0)


def test_q19_envelope_pushed_to_scan(spark):
    """tpch_q19: the quantity envelope (union of the disjunct arms) is a
    pushable scan predicate even though the exact disjunction evaluates
    post-join."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["tpch_q19_disjunctive_revenue"].fn(spark, SF_DIR))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan[:3000]
    assert "LessThanOrEqual(l_quantity,30.0)" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_rfm_selection_strategy_has_no_single_partition_exchange(spark):
    """customer_rfm_segments' scale strategy (auto-picked when orders
    outgrows ~1.5 GB): the quartile boundaries come from
    operators.ranking's batched order-statistic selection and the
    scores are in-row comparisons — that plan must not funnel
    customers through an Exchange SinglePartition window. The small-
    scale strategy deliberately keeps the plain window form (measured
    faster below the threshold; equality of both pinned in
    tests/test_ranking.py and the sf1/sf10 A/B in BASELINE.md)."""
    from multi_report_etl_pipeline_spark.queries.tpch import (
        customer_rfm_segments,
    )

    plan = physical_plan(
        customer_rfm_segments(spark, SF_DIR, strategy="selection")
    )
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_pq_topk_no_cartesian_and_bounded_final_ranks(spark):
    """emb_pq_topk: the ADC scan is ONE Arrow pass over the corpus
    (mapInPandas) feeding a BROADCAST join with the bounded query frame
    — no cartesian/nested-loop join may appear, and the only window
    ranks run over the per-query candidate shortlist."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["emb_pq_topk"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "MapInPandas" in plan, plan[:3000]


def test_heavy_hitters_candidate_join_broadcasts(spark):
    """docs_heavy_terms: the verify pass tags candidates through a
    BROADCAST left join (candidate set is bounded by partitions x
    capacity, never key-cardinality) and counts with a map-side partial
    aggregate; the full key space must not hash-exchange — the only
    shuffle of raw tokens allowed is none at all (tokens fold into
    <= candidates+1 groups before the exchange)."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_heavy_terms"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "partial_count" in plan, plan[:3000]
    # no hashpartitioning exchange keyed on the raw token column except
    # the candidate distinct (whose input is the bounded MG output)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        key = m.group(1)
        # allowed: fan_out's doc_id input spread (local-fixture
        # parallelism lever), the MG candidate distinct on token
        # (bounded by partitions x capacity), and the
        # _groupingexpression = when(cand, token) fold key, exchanged
        # AFTER the partial agg (<= candidates+1 groups per task)
        assert (
            "token" in key
            or "_k" in key
            or "_groupingexpression" in key
            or "doc_id" in key
        ), m.group(0)


def test_lang_divergence_single_corpus_shuffle(spark):
    """docs_lang_divergence: the corpus is tokenized ONCE — the
    (lang, token) aggregate is localCheckpoint'd at construction
    (round 10; before, the join-probe branch's pushed isnotnull(lang)
    filter defeated exchange reuse and the corpus was tokenized twice
    at runtime), so the serving plan must contain NO parquet corpus
    scan and NO explode: every exchange reprocesses the vocabulary-
    sized checkpointed frame."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_lang_divergence"].fn(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan, plan[:3000]
    assert "Generate explode" not in plan, plan[:3000]
    assert "Scan parquet" not in plan, plan[:3000]
    assert "ExistingRDD" in plan, plan[:3000]


@pytest.mark.parametrize(
    "name", ["lineitem_grouping_sets", "lineitem_rollup", "lineitem_cube"]
)
def test_grouping_sets_expand_runs_over_preaggregate(spark, name):
    """Two-stage grouping-set shape: the Expand (which multiplies its
    input by |sets|) must sit ABOVE a hash aggregate, i.e. run over the
    finest-grain aggregate, never over the corpus scan — the one-stage
    form pushes |sets| x corpus rows through the aggregation loop."""
    plan = physical_plan(TPCH_QUERIES[name].fn(spark, SF_DIR))
    assert "Expand" in plan, plan[:2000]
    below_expand = plan.split("Expand", 1)[1]
    assert "HashAggregate" in below_expand, plan[:3000]


def test_fuzzy_contamination_is_banded_equi_joins(spark):
    """docs_fuzzy_contamination: candidates come from the cross-corpus
    band equi-join, verification from hash-set equi-joins — no
    cartesian/nested-loop pair generation, no Python nodes, and the
    signature aggregation keeps its map-side partial."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_fuzzy_contamination"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "partial_min" in plan, plan[:3000]
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_dhash_near_dup_bands_distinct_hashes(spark):
    """docs_dhash_near_dup: the image bytes stay inside the Arrow decode
    pass (MapInPandas, pinned on the pre-checkpoint hash frame — the
    group frame is localCheckpoint-ed so its 10 downstream references
    don't re-run the decode, which truncates the final visible plan);
    pairing happens on distinct-hash groups via band equi-joins — never
    a cartesian/nested-loop join."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        QUERIES,
        _dhash_frame,
    )

    pre = physical_plan(_dhash_frame(spark, SF_DIR, with_twins=True))
    assert "MapInPandas" in pre, pre[:3000]
    plan = physical_plan(QUERIES["docs_dhash_near_dup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # the checkpointed group frame replaces the agg subtree
    assert "Scan ExistingRDD" in plan, plan[:3000]


def test_curriculum_order_is_range_sorted_not_single_partition(spark):
    """docs_curriculum_order: the global total order comes from a
    parallel range sort (Exchange rangepartitioning) — the plan must
    never contain the SinglePartition exchange an unpartitioned
    row_number window would force."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    plan = physical_plan(QUERIES["docs_curriculum_order"].fn(spark, SF_DIR))
    # the range exchange itself sits behind the localCheckpoint (the
    # returned plan reads the checkpointed RDD), so what must be visible
    # is the per-partition window keyed by the partition id — and no
    # SinglePartition exchange anywhere
    assert "windowspecdefinition(__rank_pid" in plan, plan[:3000]
    assert "SinglePartition" not in plan, plan[:3000]


def test_audio_near_dup_bands_distinct_fingerprints(spark):
    """docs_audio_near_dup: the WAV bytes stay inside the Arrow decode
    pass (MapInPandas, pinned on the pre-checkpoint fingerprint frame —
    the group frame is localCheckpoint-ed so its 10 downstream
    references don't re-run the decode, which truncates the final
    visible plan); pairing happens on distinct-fingerprint groups via
    band equi-joins — never a cartesian/nested-loop join."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        QUERIES,
        _audio_fp_frame,
    )

    pre = physical_plan(_audio_fp_frame(spark, SF_DIR, with_twins=True))
    assert "MapInPandas" in pre, pre[:3000]
    plan = physical_plan(QUERIES["docs_audio_near_dup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # the checkpointed group frame replaces the agg subtree
    assert "Scan ExistingRDD" in plan, plan[:3000]


def test_video_near_dup_single_shuffle_no_join(spark):
    """docs_video_near_dup: the clip bytes stay inside the Arrow decode
    pass (MapInPandas); frame hashes aggregate to distinct-video sets
    with a MAP-SIDE partial collect_set, the df guard is a size filter,
    and pairs expand in-plan from each kept set — the plan must contain
    NO join of any kind and exactly one hash exchange (the hash-keyed
    set aggregation) plus the pair-count exchange."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        QUERIES,
        _video_dhash_frame,
    )

    pre = physical_plan(_video_dhash_frame(spark, SF_DIR, with_twins=True))
    assert "MapInPandas" in pre, pre[:3000]
    plan = physical_plan(QUERIES["docs_video_near_dup"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan[:3000]
    assert "partial_collect_set" in plan, plan[:3000]
    assert "Generate explode" in plan, plan[:3000]
    # the only planner-inserted exchanges are the hash-keyed set agg
    # and the pair-count agg (REPARTITION_BY_NUM lines are the fixture
    # fan-out, one per twin-union side)
    exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "ENSURE_REQUIREMENTS" in line
    ]
    assert len(exchanges) <= 2, exchanges


def test_k_anonymity_broadcasts_generalized_side(spark):
    """customer_k_anonymity: two map-side partial-agg passes over the
    same scan; the coarse-bucket side is one row per coarse QI cell and
    must broadcast — no shuffled join, no row-proportional downstream."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES as TQ

    plan = physical_plan(TQ["customer_k_anonymity"].fn(spark, SF_DIR))
    assert "partial_count" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_partsupp_builder_is_shuffle_free(spark):
    """derived_partsupp: a 4x flat-map over part plus broadcast joins
    (supplier rank map, 1-row count) — NO hash exchange anywhere. The
    builder must stay shuffle-free so every consumer pays only its own
    fact-join shuffles."""
    from multi_report_etl_pipeline_spark.queries.tpch import derived_partsupp

    plan = physical_plan(derived_partsupp(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_q9_shuffles_only_on_fact_keys(spark):
    """tpch_q9: the name-filtered part broadcast-prunes partsupp and the
    supplier nation rides a broadcast — hash exchanges may key only on
    the composite fact keys or the final group."""
    plan = physical_plan(
        TPCH_QUERIES["tpch_q9_product_type_profit"].fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan[:3000]
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert (
            "l_partkey" in keys or "ps_partkey" in keys or "nation" in keys
        ), m.group(0)


def test_q16_single_shuffle_distinct_count(spark):
    """tpch_q16: part's triple filter and the blacklist anti join are
    broadcasts; the only exchanges belong to the distinct-count agg
    (brand/type/size keys)."""
    plan = physical_plan(
        TPCH_QUERIES["tpch_q16_parts_supplier_relationship"].fn(spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan, plan[:3000]
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "p_brand" in m.group(1), m.group(0)


def test_q2_single_window_exchange(spark):
    """tpch_q2: part filter and region-supplier prune ride broadcasts
    into the offer frame BEFORE the min-over-partition window — the only
    hash exchange keys on ps_partkey (the window), and the builder's
    bounded 1-row/4-row broadcast nested loops are the only non-hash
    joins (no cartesian)."""
    import re

    plan = physical_plan(
        TPCH_QUERIES["tpch_q2_min_cost_supplier"].fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all("ps_partkey" in e for e in exchanges), exchanges


def test_q11_broadcast_only_joins(spark):
    """tpch_q11: the region scope semi-prunes via broadcast and the
    grand total rides back as a 1-row broadcast crossJoin — no
    shuffled join anywhere; hash exchanges belong to the ps_partkey
    aggregation only."""
    import re

    plan = physical_plan(TPCH_QUERIES["tpch_q11_important_stock"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all("ps_partkey" in e for e in exchanges), exchanges


def test_q20_fact_exchanges_only_on_join_keys(spark):
    """tpch_q20: the 'red%' part prune broadcasts into BOTH fact sides
    before the (partkey, suppkey) shuffle join; every hash exchange
    keys on the composite pair or the qualifying-supplier key."""
    import re

    plan = physical_plan(
        TPCH_QUERIES["tpch_q20_potential_part_promotion"].fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan[:3000]
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "suppkey" in keys or "partkey" in keys, m.group(0)


def test_shj_gate_respects_scale_and_override(spark):
    """The size-gated SHUFFLE_HASH hints (q3/q5/q10, round 8) must be
    INERT below the 1 GB fact gate — fixture-scale plans keep their
    broadcast shapes — and the hint must produce ShuffledHashJoin once
    the named fact file clears the gate (forced here by a zero gate)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.queries.tpch import _shj_hint

    name = "tpch_q3_shipping_priority"
    base = physical_plan(TPCH_QUERIES[name].fn(spark, SF_DIR))
    assert "ShuffledHashJoin" not in base, base[:2000]
    orders = read_table(spark, SF_DIR, "orders")
    forced = physical_plan(
        read_table(spark, SF_DIR, "customer").join(
            _shj_hint(orders, spark, SF_DIR, table="orders", gate_bytes=0),
            F.col("c_custkey") == F.col("o_custkey"),
        )
    )
    assert "ShuffledHashJoin" in forced, forced[:2000]


def test_abc_selection_has_no_single_partition_exchange(spark):
    """The ABC selection strategy exists to kill the single-task
    cumulative sort: its classified plan must contain no
    Exchange SinglePartition before the final 3-group rollup."""
    from multi_report_etl_pipeline_spark.queries.tpch import (
        customer_abc_analysis,
    )

    df = customer_abc_analysis(spark, SF_DIR, strategy="selection")
    plan = physical_plan(df)
    # the only SinglePartition allowed is the final sort of 3 rows
    body = plan.split("Exchange rangepartitioning")[0]
    assert "Exchange SinglePartition" not in body, body[:3000]


def test_lang_divergence_corpus_total_is_broadcast_not_window(spark):
    """The corpus token total must come from a 1-row aggregate broadcast
    back via crossJoin (the q11/q15 pattern), never a partition-less
    window — that would plan Exchange SinglePartition + a one-task pass
    over the full vocabulary (~1e8 rows at 100 TB by Heaps' law). The
    only single-partition exchange allowed is the 1-row total itself."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES

    df = QUERIES["docs_lang_divergence"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]
    # a partition-less window over the vocab would show as a Window
    # operator fed by Exchange SinglePartition; the rewrite has neither
    for seg in plan.split("Exchange SinglePartition")[1:]:
        head = seg[:400]
        assert "Window" not in head.split("Exchange")[0], plan[:4000]


def test_bucketed_q3_has_no_fact_exchange(spark):
    """tpch_q3_bucketed must zip the two bucketed fact scans with no
    Exchange hashpartitioning anywhere — scan ⋈ scan on the bucket key,
    groupBy reusing the same partitioning (the whole point of
    layout.bucket_facts). At fixture scale AQE broadcasts the tiny
    sides, which also has no hash exchange; force the join shape the
    sf100 plan takes (no broadcast, no AQE) and pin the SMJ-over-
    buckets shape explicitly."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["tpch_q3_bucketed"].fn(spark, SF_DIR)
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # the orderkey join must NOT re-shuffle either bucketed side: the
    # customer prune rides an EXPLICIT broadcast (a hint, so it
    # survives the disabled threshold — by design: a custkey shuffle
    # would destroy the orders bucketing), and no hash exchange may
    # mention the orderkey fact columns
    assert "SortMergeJoin [l_orderkey" in plan, plan[:3000]
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",", 1)[0]
        assert "orderkey" not in key, plan[:4000]


def test_bucketed_q21_fact_pipeline_is_exchange_free(spark):
    """tpch_q21_bucketed: the li⋈F-orders join and BOTH cascaded aggs
    cluster on l_orderkey, so with the bucketed scans the entire fact
    pipeline must plan without any hash exchange on the fact columns —
    the zero-exchange pipeline the layout exists for. (Force the
    non-broadcast join shape the sf100 plan takes.)"""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["tpch_q21_bucketed"].fn(spark, SF_DIR)
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin [l_orderkey" in plan, plan[:3000]
    # the ONLY allowed hash exchange is the bounded final supplier
    # rollup (s_suppkey, post-fact) — nothing on the fact columns
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",", 1)[0]
        assert "orderkey" not in key and "l_suppkey" not in key, plan[:4000]


def test_bucketed_q18_order_agg_has_no_exchange(spark):
    """tpch_q18_bucketed: the 600M-row-at-scale per-order quantity
    aggregate must reuse the bucketed scan's partitioning — no hash
    exchange on l_orderkey/o_orderkey anywhere; only the custkey join
    may shuffle."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["tpch_q18_bucketed"].fn(spark, SF_DIR)
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",", 1)[0]
        assert "orderkey" not in key, plan[:4000]


def test_bucketed_q9_has_no_fact_exchange(spark):
    """tpch_q9_bucketed (round-10 adjudicated composite arm): lineitem
    serves from the (l_partkey, l_suppkey) composite layout and orders
    from the orderkey layout, so NO hash exchange may carry the fact
    columns — the li⋈partsupp join zips on the composite buckets and
    the orderkey join consumes the orders bucketing directly. Only the
    bounded, part-pruned ps side may shuffle. (Force the non-broadcast
    shape the sf100 plan takes.)"""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["tpch_q9_bucketed"].fn(spark, SF_DIR)
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # no exchange may repartition the LINEITEM or ORDERS scans: every
    # hash exchange in the plan must sit on the derived partsupp side
    # (ps_*) or a dim — never on l_* / o_* fact columns
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",", 1)[0]
        assert not key.startswith("l_") and not key.startswith("o_"), (
            key, plan[:4000])


def test_bucketed_grouping_sets_scans_bucketed_table(spark):
    """lineitem_grouping_sets_bucketed must serve its scan from the
    persisted bucketed lineitem table (the row-group-geometry win) —
    same values as the flat row, different FileScan source."""
    from multi_report_etl_pipeline_spark.queries.tpch import QUERIES

    plan = physical_plan(QUERIES["lineitem_grouping_sets_bucketed"].fn(
        spark, SF_DIR))
    assert "graft_b" in plan and "lineitem" in plan, plan[:3000]
    flat_plan = physical_plan(QUERIES["lineitem_grouping_sets"].fn(
        spark, SF_DIR))
    assert "graft_b" not in flat_plan, flat_plan[:3000]
