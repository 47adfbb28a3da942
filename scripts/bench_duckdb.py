"""Measure the DuckDB side of BASELINE.md: run each comparable headline
query's oracle SQL at $SPARK_GRAFT_SF_DIR (default sf0.1), warm, median
of 3, and print one JSON line (summed and per-query medians). Keeps the
DuckDB column of the BASELINE table reproducible on the same box/day as
the Spark numbers.

    python3 scripts/bench_duckdb.py
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from multi_report_etl_pipeline_spark.io import TABLES  # noqa: E402

# Headline queries with a DuckDB counterpart (the LSH/IVF family has no
# SQL-expressible equivalent).
COMPARABLE = [
    "report_mortgage_portfolio",
    "report_restructuring_pipeline",
    "report_commercial_promises",
    "clean_contacts_primary",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "orders_top_customers",
    "lineitem_window_rank",
    "events_windowed_counts",
    "events_sessionization",
    "events_asof_last_click",
    "docs_exact_dedup",
    "docs_minhash_near_dup",
    "docs_simhash_near_dup",
    "docs_curation_pipeline",
    "docs_vocabulary",
    "docs_tfidf_top_terms",
    "docs_chunks",
    "docs_text_quality",
    "docs_language_id",
    "emb_cosine_topk",
    "docs_dedup_groups",
    "docs_repetition_stats",
    "emb_kmeans_clusters",
    "docs_span_dedup",
    "docs_bm25_topk",
    "docs_unigram_logprob",
    "docs_dsir_sample",
    "emb_int8_topk",
    "docs_bpe_merges",
    "docs_bpe_tokenize",
    "docs_quality_logreg",
    "emb_pca_projection",
    "docs_bloom_decontaminate",
    "events_gap_filled_hourly",
    "docs_pagerank",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    osql = entry_mod.oracle_sql()
    timings: dict[str, float] = {}
    for name in COMPARABLE:
        sql = osql[name]
        con.execute(sql).fetchall()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
    print(
        json.dumps(
            {
                "metric": "duckdb_comparable_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
