"""Query registry.

Each submodule exposes ``QUERIES: dict[str, QuerySpec]``. ``all_queries()``
merges them and prepares each ``fn`` (see ``prepared``);
``__spark_entry__`` (driver contract) is a thin shim over it.

ROTATION POLICY (the driver audit window)
=========================================

The verification driver audits the registry in iteration order and caps
at ``DRIVER_AUDIT_CAP`` (50) entries per round; entries past the cap get
no driver CORRECTNESS row that round. The registry holds 192 queries —
more than 3 windows' worth — so window membership is ROTATED each round
under these rules, in priority order:

1. **Changed queries always get a row.** Any query whose semantics,
   emitted values, or physical plan changed this round enters the
   window, no matter how many green rows it already has — driver
   evidence must cover the code that ships, not the code that passed.
2. **New queries always get a row the round they land.**
3. **Never-driver-checked entries outrank recently-checked ones.** If
   an addition burst outgrows a single window (round 5 added 25 more
   than fit), the overflow rotates in the NEXT round before anything
   else does.
4. **The reference surface keeps standing representation** (one raw
   staging view, the window-dedup chain representative, all three
   reports) — the §2 parity claim should re-prove per round.
5. **Fresh one-round-green entries are preferred keeps** for their
   second consecutive round; after two consecutive greens an untouched
   query is demotable, which keeps a steady demotion supply for rules
   1-3.
6. **Demotion never loses local coverage**: pytest parametrizes over
   the FULL registry every round (oracle-checked entries re-prove
   against DuckDB at sf0.001 regardless of window position), and
   ``scripts/validate.py`` runs the driver-equivalent oracle harness
   over any subset on demand.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from multi_report_etl_pipeline_spark import artifacts, io


@dataclass(frozen=True)
class QuerySpec:
    """A declared query: Spark implementation + optional DuckDB oracle.

    ``oracle`` is None for genuinely non-SQL-expressible ops (streaming,
    LSH-approximate); the driver then records a weaker rows-only check and
    tests/ cover those with threshold-based assertions instead.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


# The driver's audit cap (see module docstring for the rotation policy).
DRIVER_AUDIT_CAP = 50

# The round-6 audit window, explicitly enumerated: these and only these
# get driver CORRECTNESS rows this round. all_queries() fails loudly if
# a name here is missing from the registry (typo/rename guard) or the
# window outgrows the cap, so adding a query without rebalancing cannot
# silently evict an audited family past the cap.
_WINDOW = (
    # rule 4 — reference surface
    "stg_accounts",
    "clean_contacts_primary",
    "report_mortgage_portfolio",
    "report_restructuring_pipeline",
    "report_commercial_promises",
    # rule 2 — new this round
    "lineitem_grouping_sets_bucketed",
    "events_gap_filled_hourly_rollup",
    "events_ewma_anomaly_rollup",
    "docs_hybrid_rrf_topk",
    "streaming_hourly_rollup",
    # rule 1 — round-10 changes
    "tpch_q9_bucketed",
    "tpch_q9_product_type_profit",
    "lineitem_grouping_sets",
    "events_hourly_uniques_sketch",
    "events_hourly_unique_users",
    "events_binned_percentiles",
    "events_transition_matrix",
    "tpch_q3_bucketed",
    "tpch_q5_bucketed",
    "tpch_q10_bucketed",
    "tpch_q18_bucketed",
    "tpch_q21_bucketed",
    # rule 5 keeps (second consecutive green on r10-changed code) +
    # rule 1 this round: emb_pq_topk's PLAN changed again in r11 (ADC
    # re-rank moved into the Arrow pass — plans/r11)
    "docs_lang_divergence",
    "docs_simhash_near_dup",
    "emb_pq_topk",
    # rule 1/2 — round-11 changes: q1 layout threading (conservative
    # seat, default plan identical) + the new bucketed serving row
    "tpch_q1_pricing_summary",
    "tpch_q1_bucketed",
    # rotation duty — the 3 r5 rows displaced by the r10 optimization
    # phase and the 4 rows displaced by the r10 rule-2 batch return
    "customer_fuzzy_matches",
    "lineitem_regression_stats",
    "docs_bigram_vocabulary",
    "events_value_percentiles",
    "docs_repetition_stats",
    "docs_split_assignment",
    "docs_mixture_sample",
    # re-confirmation keeps (rule 5: tfidf changed r10; json_props
    # stays one more round — youngest of the r3 remainder)
    "docs_tfidf_top_terms",
    "events_json_props",
    # re-confirmation — the full r4 cohort
    "docs_video_frames",
    "docs_curation_pipeline",
    "events_asof_last_click",
    "events_clicks_before_errors_binned",
    "events_conversion_funnel",
    "events_multi_resolution_rollup",
    "events_sliding_avg",
    "streaming_sessionization",
    "streaming_dedup",
    "streaming_interval_join",
    "streaming_contact_survivors",
    "streaming_snapshot_merge",
    # re-confirmation — the 2 oldest r5 rows (3 more r5 rows —
    # customer_fuzzy_matches, lineitem_regression_stats,
    # docs_bigram_vocabulary — displaced by the optimization-phase
    # rule-1 seats above; first in line next round, and
    # customer_fuzzy_matches was judge-validated green this round)
    "orders_snapshot_diff",
    "orders_lifecycle_zorder",
)


# Leaves a prepared plan may read: file and catalog scans, generated
# ranges, and references to a CTE defined in the same plan. Anything else
# holds work done at build time (LogicalRDD from localCheckpoint,
# InMemoryRelation from persist, MemoryPlan from a drained stream, and
# LocalRelation, which holds driver-side rows such as a drained stream's
# answer), which a prepared plan would replay instead of running.
_PURE_LEAVES = frozenset(
    {"LogicalRelation", "HiveTableRelation", "Range", "CTERelationRef"}
)


def is_pure(df: DataFrame) -> bool:
    """Whether every leaf of ``df``'s plan, cached data substituted, is
    one of ``_PURE_LEAVES``."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().getClass().getSimpleName() not in _PURE_LEAVES:
            return False
    return True


def prepared(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` with its built plan memoized per session and ``sf_dir``.

    The memo is a session-store entry of kind ``("prepared", name)``
    fingerprinted by every table in ``io.TABLES`` (a superset of what the
    query reads) and by the process store's drops and clears of
    ``sf_dir``. Every call returns a fresh projection of the memo, a new
    QueryExecution that plans and runs again; the memo itself is never
    returned or executed. Only pure builds (``is_pure``) are memoized;
    any other build is returned as it is, and runs again on the next
    call."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = None

        def build():
            nonlocal df
            df = fn(spark, sf_dir)
            return df if is_pure(df) else None

        memo = artifacts.session_store(spark).get(("prepared", name), sf_dir, io.TABLES, build)
        return df if memo is None else memo.select("*")

    return run


def all_queries() -> dict[str, QuerySpec]:
    from multi_report_etl_pipeline_spark.queries import (  # noqa: PLC0415
        events,
        llm_ops,
        reference,
        tpch,
    )

    merged: dict[str, QuerySpec] = {}
    for module in (reference, tpch, llm_ops, events):
        merged.update(module.QUERIES)
    missing = [n for n in _WINDOW if n not in merged]
    if missing:
        raise AssertionError(
            f"_WINDOW names not in the registry (typo or rename?): {missing}"
        )
    if len(_WINDOW) > DRIVER_AUDIT_CAP:
        raise AssertionError(
            f"{len(_WINDOW)} window entries exceed the driver's "
            f"{DRIVER_AUDIT_CAP}-entry audit cap; rebalance per the "
            "rotation policy in this module's docstring"
        )
    order = dict.fromkeys((*_WINDOW, *merged))
    return {n: replace(merged[n], fn=prepared(n, merged[n].fn)) for n in order}
