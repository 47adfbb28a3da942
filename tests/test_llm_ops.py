"""LLM-pipeline operators: oracle differentials where SQL-expressible,
recall/accuracy thresholds for the approximate family (SURVEY.md §7
Phase 2: "for LSH/approx ops, oracle = exact computation + recall
threshold")."""

from __future__ import annotations

import pytest

from multi_report_etl_pipeline_spark.queries.llm_ops import QUERIES
from tests.conftest import SF_DIR, assert_matches_oracle

ORACLE_CHECKED = sorted(n for n, s in QUERIES.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(spark, duck, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    assert_matches_oracle(df, duck, QUERIES[name].oracle)


def _pair_set(df, c1, c2):
    return {(r[c1], r[c2]) for r in df.collect()}


def test_minhash_recall_vs_exact(spark):
    """MinHash-LSH must recover nearly all exact Jaccard>=0.8 pairs."""
    exact = _pair_set(QUERIES["docs_ngram_jaccard"].fn(spark, SF_DIR), "doc_id_1", "doc_id_2")
    approx = _pair_set(
        QUERIES["docs_minhash_near_dup"].fn(spark, SF_DIR), "doc_id_1", "doc_id_2"
    )
    assert exact, "fixture should contain near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(exact)} exact pairs)"


def test_minhash_exact_collapse_guard_equality(spark):
    """The hot-band guard (collapse_exact=True, the default) must be
    OUTPUT-INVISIBLE: on a corpus with planted byte-identical copies,
    the guarded pipeline's pair set (intra-group 1.0 pairs + expanded
    cross-group pairs) equals the unguarded banded pipeline row for row
    — est_jaccard included. That invariance is what lets the registered
    query keep its DuckDB value oracle unchanged."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    base = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # plant a 40-copy group (one hot doc) plus a 3-copy group, ids above
    # the fixture range; also a sub-n-word doc group (no shingles -> no
    # intra pairs may be emitted for it)
    src = base.filter(F.col("doc_id") < 20).limit(2).collect()
    copies = [(900_000 + i, src[0].text) for i in range(40)]
    copies += [(910_000 + i, src[1].text) for i in range(3)]
    copies += [(920_000 + i, "two words") for i in range(5)]
    planted = spark.createDataFrame(copies, "doc_id long, text string")
    corpus = base.unionByName(planted)

    def rows(guarded):
        out = minhash_near_dup_pairs(corpus, collapse_exact=guarded)
        return {
            (r.doc_id_1, r.doc_id_2, r.est_jaccard) for r in out.collect()
        }

    got, want = rows(True), rows(False)
    assert got == want
    # adaptive mode must pick the guard here (planted 40-copy group >=
    # _GUARD_MIN_GROUP) and stay output-identical
    assert rows(None) == want
    # the planted 40-copy group contributes exactly C(40,2) + the pair
    # with the original doc's own group-mates
    intra = {p for p in got if p[0] >= 900_000 and p[1] < 910_000}
    assert len(intra) >= 40 * 39 // 2
    # sub-n-word copies never pair (no shingle is defined for them)
    assert not any(p[0] >= 920_000 or p[1] >= 920_000 for p in got)


def test_minhash_guard_bounds_band_join(spark):
    """A planted 1000-copy document must NOT quadratic-blow the band
    join: with the guard, the banded pipeline runs over one
    representative per distinct text, so its verified rep-level pair
    count is bounded by distinct-text combinations — independent of the
    copy count. (Unguarded, the same corpus would push 1000^2 candidate
    rows into every one of the 8 bands.)"""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators.dedup import (
        _minhash_banded_pairs,
    )
    from multi_report_etl_pipeline_spark.operators.text import fingerprint

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = [(i, words) for i in range(1000)]  # the hot group
    docs += [(1000 + i, f"distinct document number {i} " + words[: 5 + i])
             for i in range(10)]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    members = corpus.select(
        "doc_id", fingerprint("text").alias("fp")
    )
    n_distinct = members.select("fp").distinct().count()
    assert n_distinct <= 11
    from pyspark.sql import Window

    reps = (
        members.withColumn(
            "rep_id", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id")
    )
    rep_pairs = _minhash_banded_pairs(
        corpus.join(reps, "doc_id"), "text", 3, 0.0, 8
    )
    # every shuffled intermediate upstream of this count is rep-sized:
    # <= C(11, 2) pairs regardless of the 1000 copies
    assert rep_pairs.count() <= 55


def test_simhash_exact_hamming_verification(spark):
    """SimHash banding is EXACT for Hamming <= 3: with 4 x 16-bit bands,
    any pair within distance 3 must collide on >= 1 band (pigeonhole), and
    the operator's final bit_count filter removes every false positive —
    so its output must EQUAL the quadratic all-pairs computation over the
    (deterministic) signatures. Any banding regression (missed band,
    wrong shift/mask, broken dedup) breaks this equality. This replaces
    the earlier recall-vs-Jaccard threshold, which measured the fixture's
    Jaccard/Hamming disagreement, not the operator."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.dedup import simhash_signatures

    docs = read_table(spark, SF_DIR, "documents")
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3
    }
    got = _pair_set(
        QUERIES["docs_simhash_near_dup"].fn(spark, SF_DIR), "doc_id_1", "doc_id_2"
    )
    assert exact, "fixture should contain Hamming<=3 signature pairs"
    assert got == exact, (
        f"banding missed {len(exact - got)} true pairs / "
        f"emitted {len(got - exact)} false pairs"
    )


def _exact_near_dup_pairs(spark):
    """Quadratic exact near-dup pairs — TEST-ONLY witness. Round 6
    demoted this from the public registry (a corpus-wide crossJoin must
    not be user-reachable); the registered scale path is
    emb_blocked_near_dup, recall-gated against this witness below."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    return similarity.near_dup_pairs(emb, threshold=0.4)


def test_lsh_ann_recall_vs_brute(spark):
    """Random-projection LSH pairs must cover the exact cosine>=0.4 pairs
    (unit-norm vectors: cosine>=0.4 <=> L2 <= sqrt(1.2))."""
    exact = _pair_set(_exact_near_dup_pairs(spark), "id_1", "id_2")
    from multi_report_etl_pipeline_spark.queries.llm_ops import emb_lsh_ann

    approx = _pair_set(emb_lsh_ann(spark, SF_DIR), "id_1", "id_2")
    assert exact, "fixture should contain cosine>=0.4 pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH ANN recall {recall:.2f} < 0.9"


def test_blocked_near_dup_recall_and_exactness(spark):
    """The registered kmeans-blocked near-dup path must emit a SUBSET of
    the exact quadratic pairs (blocking can only miss, never invent —
    and every emitted sim is the exact JVM-fold value) at >= 0.9 pair
    recall on the fixture."""
    exact = {
        (r["id_1"], r["id_2"]): r["cosine_sim"]
        for r in _exact_near_dup_pairs(spark).collect()
    }
    got = {
        (r["id_1"], r["id_2"]): r["cosine_sim"]
        for r in QUERIES["emb_blocked_near_dup"].fn(spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain cosine>=0.4 pairs"
    assert set(got) <= set(exact), "blocked path invented a pair"
    for pair, sim in got.items():
        assert sim == exact[pair], f"sim mismatch on {pair}"
    recall = len(got) / len(exact)
    assert recall >= 0.9, f"blocked near-dup recall {recall:.2f} < 0.9"


def test_cosine_dedup_lsh_candidates_superset(spark):
    """The LSH-candidate scale path of cosine_dedup can only MISS pairs,
    never invent them — so its survivor set must contain every exact-path
    survivor, and the dropped sets must overlap at >= 0.9 recall (same
    bar as the pair-level LSH test)."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    exact_surv = {r.vec_id for r in similarity.cosine_dedup(emb, 0.4).collect()}
    cand = similarity.lsh_ann_pairs(
        emb, max_l2_dist=1.0954451150103324, bucket_length=1.25,
        num_hash_tables=6, dim=64,
    )
    lsh_surv = {
        r.vec_id
        for r in similarity.cosine_dedup(emb, 0.4, candidate_pairs=cand).collect()
    }
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert exact_surv <= lsh_surv, "LSH path dropped a vector the exact path kept"
    exact_dropped = all_ids - exact_surv
    assert exact_dropped, "fixture should contain near-dup vectors"
    recall = len(exact_dropped & (all_ids - lsh_surv)) / len(exact_dropped)
    assert recall >= 0.9, f"cosine-dedup LSH drop recall {recall:.2f} < 0.9"


def test_chunking_reconstructs_token_stream(spark):
    """Lossless-coverage property: stripping the overlap from every
    chunk after the first and concatenating must reproduce the original
    normalized token stream exactly, for every document — wrong stride,
    slice bounds, or a missing final chunk all break this."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import text

    docs = read_table(spark, SF_DIR, "documents")
    chunks = text.chunk_tokens(docs, chunk_size=64, overlap=16).collect()
    by_doc: dict = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_id)):
        toks = r.chunk_text.split(" ") if r.chunk_text else []
        assert len(toks) == r.n_chunk_tokens
        assert r.n_chunk_tokens <= 64
        by_doc.setdefault(r.doc_id, []).extend(toks if r.chunk_id == 0 else toks[16:])
    originals = {
        r.doc_id: r.toks
        for r in docs.selectExpr(
            "doc_id", "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ') AS toks"
        ).collect()
    }
    assert set(by_doc) == set(originals)
    for doc_id, toks in by_doc.items():
        assert toks == list(originals[doc_id]), f"doc {doc_id} reconstruction mismatch"


def test_chunking_rejects_bad_overlap():
    from multi_report_etl_pipeline_spark.operators import text

    with pytest.raises(ValueError):
        text.chunk_tokens(None, chunk_size=16, overlap=16)
    with pytest.raises(ValueError):
        text.chunk_tokens(None, chunk_size=16, overlap=-1)


def test_approx_distinct_accuracy(spark):
    row = QUERIES["lineitem_approx_distinct"].fn(spark, SF_DIR).collect()[0]
    from multi_report_etl_pipeline_spark.io import read_table
    from pyspark.sql import functions as F

    li = read_table(spark, SF_DIR, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey"), F.countDistinct("l_partkey"), F.countDistinct("l_suppkey")
    ).collect()[0]
    for approx, true in zip(row, exact):
        assert abs(approx - true) / true < 0.1, f"approx {approx} vs exact {true}"


def test_percentiles_bounded(spark):
    row = QUERIES["events_value_percentiles"].fn(spark, SF_DIR).collect()[0]
    p50, p90, p99 = row.value_pcts
    assert 0 < p50 < p90 < p99


def test_ivf_topk_recall_vs_brute(spark):
    """IVF with a k-means-trained quantizer probing 4/10 cells must
    recover >=0.7 of the exact top-10 on average (near-random embeddings
    are the worst case for clustering; label-based cells cap at ~0.38)."""
    brute = QUERIES["emb_cosine_topk"].fn(spark, SF_DIR).collect()
    ivf = QUERIES["emb_ivf_topk"].fn(spark, SF_DIR).collect()
    brute_top10 = {}
    ivf_sets = {}
    for r in brute:
        brute_top10.setdefault(r.q_id, set()).add(r.c_id)
    for r in ivf:
        ivf_sets.setdefault(r.q_id, set()).add(r.c_id)
    assert set(brute_top10) == set(ivf_sets)
    recalls = [
        len(brute_top10[q] & ivf_sets[q]) / len(brute_top10[q]) for q in brute_top10
    ]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_ivf_topk_recall_on_clustered_embeddings(spark):
    """On CLUSTERED embeddings (the case IVF exists for — real
    text/image embedding corpora), a quantizer with cells ~= the true
    cluster count probing 1/10 of them must recover >=0.9 of the exact
    top-10: tight clusters mean a query's neighbors share its nearest
    cells. Same construction as scripts/make_clustered_emb.py (the
    200k-vector sitting in BASELINE.md: recall 1.0 at a 5.2x win over
    brute), shrunk to 2k vectors / 20 clusters for test speed."""
    import numpy as np
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators import similarity

    rng = np.random.default_rng(7)
    k_clusters, n, dim = 20, 2000, 32
    centers = rng.normal(size=(k_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k_clusters, size=n)
    vecs = (centers[labels] + rng.normal(size=(n, dim)) * 0.06).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") % 40 == 0).orderBy("vec_id").limit(50)
    brute = similarity.brute_topk(emb, queries, k=10).collect()
    ivf = similarity.ivf_topk(
        emb, queries, k=10, n_probe=2, n_cells=k_clusters
    ).collect()
    brute_top10, ivf_sets = {}, {}
    for r in brute:
        brute_top10.setdefault(r.q_id, set()).add(r.c_id)
    for r in ivf:
        ivf_sets.setdefault(r.q_id, set()).add(r.c_id)
    recalls = [
        len(brute_top10[q] & ivf_sets.get(q, set())) / len(brute_top10[q])
        for q in brute_top10
    ]
    assert sum(recalls) / len(recalls) >= 0.9, sorted(recalls)[:5]


def test_ivf_indexed_matches_inplan_and_prunes_partitions(spark, tmp_path):
    """The persisted cell-partitioned index (build_ivf_index ->
    ivf_topk_indexed) must (a) serve ROW-IDENTICAL results to the
    in-plan ivf_topk under the same quantizer, and (b) partition-PRUNE
    the corpus scan to the probed cells — the scan's PartitionFilters
    must carry the cell predicate, so non-probed cell directories never
    reach the file listing (the I/O shape the layout exists for)."""
    import numpy as np
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators import similarity

    rng = np.random.default_rng(11)
    n, dim, cells = 800, 16, 8
    vecs = rng.normal(size=(n, dim)).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0).orderBy("vec_id").limit(30)
    cents = similarity.train_centroids_portable(emb, cells, 2, train_sample=256)
    path = str(tmp_path / "index")
    similarity.build_ivf_index(emb, path, n_cells=cells, centroids=cents)

    inplan = similarity.ivf_topk(emb, queries, k=5, n_probe=3, centroids=cents)
    indexed = similarity.ivf_topk_indexed(spark, path, queries, k=5, n_probe=3)
    rows_a = {tuple(r) for r in inplan.collect()}
    rows_b = {tuple(r) for r in indexed.collect()}
    assert rows_a == rows_b and rows_a

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line for line in plan.splitlines()
        if "FileScan" in line and "/index" in line
    )
    assert "PartitionFilters: [cell" in scan.replace(
        "PartitionFilters: [isnotnull(cell", "PartitionFilters: [cell"
    ) or "cell#" in scan.split("PartitionFilters:")[1].split("]")[0], scan


def test_pq_topk_recall_vs_brute(spark):
    """PQ (8x64 codebooks, 100 ADC candidates — absolute, so 20% of
    the 500-vector fixture but a vanishing fraction at scale) must
    recover >=0.7 of the exact top-10 on average — near-random
    embeddings are the worst case for subspace quantization (simulated:
    0.92 at 8x64/100 vs 0.52 at 4x16/50); every emitted similarity is
    exact (rescored), which the registry-wide oracle row already
    pins."""
    brute = QUERIES["emb_cosine_topk"].fn(spark, SF_DIR).collect()
    pq = QUERIES["emb_pq_topk"].fn(spark, SF_DIR).collect()
    brute_top10, pq_sets = {}, {}
    for r in brute:
        brute_top10.setdefault(r.q_id, set()).add(r.c_id)
    for r in pq:
        pq_sets.setdefault(r.q_id, set()).add(r.c_id)
    assert set(brute_top10) == set(pq_sets)
    recalls = [
        len(brute_top10[q] & pq_sets[q]) / len(brute_top10[q]) for q in brute_top10
    ]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_pq_codebook_shapes(spark):
    """Codebook training: m_sub independent (cids, centroids) pairs,
    each <= n_codes codewords of dim/m_sub width; cids ascend (survivor
    labels keep their original ids through empty-cluster drop-out)."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.similarity import (
        train_pq_codebooks_portable,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    books = train_pq_codebooks_portable(emb, m_sub=4, n_codes=16, iters=2)
    assert len(books) == 4
    for cids, cents in books:
        assert cents.shape[1] == 16  # 64 / 4
        assert 1 <= len(cids) <= 16
        assert list(cids) == sorted(cids)
        assert len(cids) == cents.shape[0]


def test_pq_full_candidate_set_is_exact(spark):
    """With n_cand >= corpus size the ADC prune cannot drop anything, so
    PQ must return the brute-force result EXACTLY (same ids, same
    rounded sims) — pins the rescore path independently of codebook
    quality."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks_portable,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter((emb.vec_id % 100) == 0).orderBy("vec_id").limit(500)
    books = train_pq_codebooks_portable(emb, m_sub=4, n_codes=8, iters=1)
    pq = pq_topk(emb, queries, k=10, codebooks=books, n_cand=1000)
    brute = QUERIES["emb_cosine_topk"].fn(spark, SF_DIR)
    got = {(r.q_id, r.rank, r.c_id, r.cosine_sim) for r in pq.collect()}
    want = {(r.q_id, r.rank, r.c_id, r.cosine_sim) for r in brute.collect()}
    assert got == want


def test_pq_adc_numpy_fold_matches_jvm(spark):
    """The exact ADC re-rank score is computed inside the Arrow pass
    (round 11) with ``_ldp_fold`` — this pins its claimed bit-identity
    to the former JVM expression: for fixture-trained codebooks and
    real query slices, evaluate the literal
    ``ldp(s,s) - 2.0D*ldp(s,c) + ldp(c,c)`` subspace sum in the JVM
    and require EXACT float64 equality with the numpy fold."""
    import numpy as np

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.similarity import (
        _ldp_fold,
        train_pq_codebooks_portable,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    m_sub = 4
    books = train_pq_codebooks_portable(emb, m_sub=m_sub, n_codes=8, iters=2)
    cents = [np.asarray(c, dtype="float64") for _, c in books]
    rows = emb.orderBy("vec_id").limit(6).collect()
    qm = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    sub = qm.shape[1] // m_sub
    # spread codeword picks across rows and subspaces
    pos = [
        np.array([(i + j) % len(cents[j]) for i in range(len(rows))])
        for j in range(m_sub)
    ]
    exact = None
    for j in range(m_sub):
        s = qm[:, j * sub : (j + 1) * sub]
        c = cents[j][pos[j]]
        term = (_ldp_fold(s, s) - 2.0 * _ldp_fold(s, c)) + _ldp_fold(c, c)
        exact = term if exact is None else exact + term

    ldp = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"

    def arr(v) -> str:
        return "array(" + ",".join(repr(float(x)) + "D" for x in v) + ")"

    for i in range(len(rows)):
        terms = []
        for j in range(m_sub):
            s = arr(qm[i, j * sub : (j + 1) * sub])
            c = arr(cents[j][pos[j][i]])
            terms.append(
                f"({ldp.format(a=s, b=s)} - 2.0D * {ldp.format(a=s, b=c)}"
                f" + {ldp.format(a=c, b=c)})"
            )
        got = spark.range(1).selectExpr(
            " + ".join(terms) + " AS adc"
        ).collect()[0][0]
        assert got == exact[i], (i, got, exact[i], got - exact[i])


def test_dedup_groups_are_consistent_with_pairs(spark):
    """Every near-dup pair lands in one group; groups are closed."""
    pairs = QUERIES["docs_ngram_jaccard"].fn(spark, SF_DIR).collect()
    groups = {r.doc_id: r.group_id for r in QUERIES["docs_dedup_groups"].fn(spark, SF_DIR).collect()}
    for p in pairs:
        assert groups[p.doc_id_1] == groups[p.doc_id_2]
    for doc, g in groups.items():
        assert g <= doc  # canonical id is the component minimum


def test_lsh_tiled_buckets_match_untiled(spark):
    """The skew guard (max_bucket tiling) must not change the result:
    forcing every bucket to split into multiple hash-tiles yields
    exactly the same neighbor pairs and distances as the untiled path."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.similarity import lsh_ann_pairs

    emb = read_table(spark, SF_DIR, "embeddings")
    kwargs = dict(
        max_l2_dist=1.0954451150103324, bucket_length=1.25,
        num_hash_tables=6, dim=64,
    )
    plain = {
        (r.id_1, r.id_2, r.l2_dist)
        for r in lsh_ann_pairs(emb, **kwargs).collect()
    }
    tiled = {
        (r.id_1, r.id_2, r.l2_dist)
        for r in lsh_ann_pairs(emb, max_bucket=4, **kwargs).collect()
    }
    assert plain, "fixture should produce LSH pairs"
    assert tiled == plain


def test_pii_scrub_order_and_narrow_plan(spark):
    """URL-first ordering: an @ inside a URL must redact as ONE <URL>,
    not split into an <EMAIL>; standalone classes each redact; and the
    scrub projection itself is narrow (no Exchange) — it runs inside the
    scan's codegen stage at any scale."""
    from multi_report_etl_pipeline_spark.operators.text import pii_counts, scrub_pii
    from multi_report_etl_pipeline_spark.plans import physical_plan

    df = spark.createDataFrame(
        [
            (1, "see https://u:pw@host.example/x?a=1 now"),
            (2, "mail bob.smith+tag@corp.example.io please"),
            (3, "peer 192.168.0.1 dialed +44 20-7946-0958 twice"),
            (4, "clean text with no identifiers at all"),
        ],
        "id long, text string",
    )
    got = {r.id: r.s for r in df.select("id", scrub_pii("text").alias("s")).collect()}
    assert got[1] == "see <URL> now"
    assert got[2] == "mail <EMAIL> please"
    assert got[3] == "peer <IP> dialed <PHONE> twice"
    assert got[4] == "clean text with no identifiers at all"
    counts = pii_counts("text")
    r3 = df.filter("id = 3").select(
        counts["ipv4"].alias("n_ip"), counts["phone"].alias("n_phone")
    ).collect()[0]
    assert (r3.n_ip, r3.n_phone) == (1, 1)
    plan = physical_plan(df.select("id", scrub_pii("text").alias("s")))
    assert "Exchange" not in plan, plan[:2000]


def test_chunking_edge_lengths_exhaustive(spark):
    """Every token count 1..130 in one DataFrame (covers n < overlap,
    n == overlap, n == chunk_size, and every boundary +-1 for
    chunk 32 / overlap 8): chunk count must equal the ceil formula,
    every chunk except the last must be full, and reconstruction must be
    lossless."""
    from multi_report_etl_pipeline_spark.operators import text

    cs, ov = 32, 8
    stride = cs - ov
    rows = [(n, " ".join(f"t{n}_{i}" for i in range(n))) for n in range(1, 131)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = sorted(
        text.chunk_tokens(df, chunk_size=cs, overlap=ov).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(1, 131))
    for n, rs in by_doc.items():
        expect_chunks = max(1, -(-(n - ov) // stride))
        assert len(rs) == expect_chunks, f"n={n}"
        toks = []
        for r in rs:
            got = r.chunk_text.split(" ")
            assert len(got) == r.n_chunk_tokens
            if r.chunk_id < len(rs) - 1:
                assert r.n_chunk_tokens == cs, f"n={n} chunk {r.chunk_id} short"
            toks.extend(got if r.chunk_id == 0 else got[ov:])
        assert toks == [f"t{n}_{i}" for i in range(n)], f"n={n} reconstruction"


def test_repetition_stats_flags_planted_repetition(spark):
    """A doc that is one token repeated must be dropped with top/dup
    fractions ~1; the short-doc edges keep the 0.0 convention."""
    from multi_report_etl_pipeline_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "one two three four five six seven eight"),
            (3, "solo"),
            (4, "pair pair"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["top_token_frac"] == 1.0
    assert rows[1]["dup_bigram_frac"] == pytest.approx(1 - 1 / 7, abs=1e-6)
    assert rows[1]["keep"] == 0
    assert rows[2]["dup_bigram_frac"] == 0.0 and rows[2]["keep"] == 0
    # 8 distinct tokens -> top_token_frac 0.125 > 0.12 threshold: dropped
    assert rows[2]["top_token_frac"] == 0.125
    assert rows[3]["n_tokens"] == 1
    assert rows[3]["dup_bigram_frac"] == 0.0 == rows[3]["dup_trigram_frac"]
    assert rows[4]["dup_bigram_frac"] == 0.0  # one bigram, trivially distinct
    assert rows[4]["dup_trigram_frac"] == 0.0
    assert rows[4]["top_token_frac"] == 1.0


def test_distributed_kmeans_recovers_separated_blobs(spark):
    """Three well-separated blobs whose first three ids land in distinct
    blobs: Lloyd's must converge to the exact blob partition, and the
    result must be deterministic across runs."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.similarity import (
        distributed_kmeans,
    )

    rng = np.random.RandomState(7)
    centers = np.array([[0.0] * 8, [50.0] * 8, [-50.0] * 8])
    rows = []
    # ids 0,1,2 are one point from each blob (the deterministic seeds)
    for i in range(60):
        blob = i % 3
        v = centers[blob] + rng.randn(8) * 0.5
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["id"]: r["cluster"] for r in distributed_kmeans(emb, k=3, iters=3).collect()}
    for i in range(60):
        assert got[i] == i % 3, f"id {i} assigned {got[i]}, blob {i % 3}"
    again = {r["id"]: r["cluster"] for r in distributed_kmeans(emb, k=3, iters=3).collect()}
    assert got == again


def test_span_dedup_keeps_first_occurrence_and_drops_empty_docs(spark):
    """Global first-occurrence-wins across docs AND within a doc; a doc
    whose every span is a repeat disappears entirely."""
    from multi_report_etl_pipeline_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # spans: "a b c", "d e f"
            (2, "a b c x y z"),          # first span repeats doc 1
            (3, "a b c d e f"),          # all spans repeat -> vanishes
            (4, "a b c a b c q"),        # in-doc repeat + 1-token tail
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup(docs, span_tokens=3).collect()}
    assert rows[1]["clean_text"] == "a b c d e f"
    assert rows[1]["n_kept"] == 2 and rows[1]["n_spans"] == 2
    assert rows[2]["clean_text"] == "x y z"
    assert rows[2]["n_kept"] == 1 and rows[2]["n_spans"] == 2
    assert 3 not in rows
    assert rows[4]["clean_text"] == "q"
    assert rows[4]["n_kept"] == 1 and rows[4]["n_spans"] == 3


def test_span_dedup_is_idempotent_on_clean_corpus(spark):
    """Running span dedup over an already-deduplicated corpus keeps
    every remaining span: a second pass only re-chunks, it never
    removes (spans are globally unique after pass one)."""
    from multi_report_etl_pipeline_spark.operators.dedup import span_dedup

    from tests.conftest import SF_DIR
    from multi_report_etl_pipeline_spark.io import read_table

    docs = read_table(spark, SF_DIR, "documents").limit(50)
    once = span_dedup(docs, span_tokens=3)
    # NOTE: re-chunking shifts span boundaries (removed spans close the
    # gap), so full idempotence needs span-aligned text; assert the
    # weaker no-aligned-dup-span property, which the deterministic
    # fixture satisfies (boundary shifts could in principle create an
    # aligned repeat on other data).
    for r in once.collect():
        toks = r["clean_text"].split(" ")
        spans = [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]
        assert len(spans) == len(set(spans)), f"doc {r['doc_id']} kept a dup span"


def test_cluster_balanced_sample_is_balanced(spark):
    """Every cluster contributes exactly min(m, |cluster|) rows, ranks
    are 1..n within each cluster, and membership matches the kmeans
    assignment."""
    from collections import Counter

    from tests.conftest import SF_DIR

    assign = {
        r["id"]: r["cluster"]
        for r in QUERIES["emb_kmeans_clusters"].fn(spark, SF_DIR).collect()
    }
    sizes = Counter(assign.values())
    rows = QUERIES["emb_cluster_balanced_sample"].fn(spark, SF_DIR).collect()
    got = Counter(r["cluster"] for r in rows)
    for c, n in sizes.items():
        assert got[c] == min(20, n), (c, got[c], n)
    for r in rows:
        assert assign[r["vec_id"]] == r["cluster"]
        assert 1 <= r["sample_rank"] <= 20


def test_bm25_ranks_planted_relevant_doc_first(spark):
    """A doc saturated with the query terms must outrank everything,
    docs with zero query terms must not appear, and higher tf of a
    rarer term must beat common-term tf."""
    from multi_report_etl_pipeline_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark window merge spark window merge spark"),
            (2, "spark alpha beta gamma delta epsilon zeta eta"),
            (3, "alpha beta gamma delta"),
            (4, "window window alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["spark", "window", "merge"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 1
    assert 3 not in ids
    scores = {r["doc_id"]: r["bm25"] for r in rows}
    assert scores[1] > scores[4] > 0
    assert scores[1] > scores[2] > 0


def test_semantic_dedup_pairs_are_cocluster_restriction_of_exact(spark):
    """SemDeDup's dropped set must be exactly the quadratic
    near_dup_pairs restricted to co-clustered pairs (same threshold,
    same rounding) — the GEMM prefilter + JVM rescore may prune, never
    alter; and survivors must equal corpus minus min-id drops."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    assign = similarity.distributed_kmeans(emb, k=8, iters=3)
    cluster_of = {r.id: r.cluster for r in assign.collect()}
    exact = {
        (r.id_1, r.id_2)
        for r in similarity.near_dup_pairs(emb, threshold=0.4).collect()
    }
    want_pairs = {
        (a, b) for a, b in exact if cluster_of[a] == cluster_of[b]
    }
    got_pairs = {
        (r.id_1, r.id_2)
        for r in similarity.cluster_near_dup_pairs(emb, assign, 0.4).collect()
    }
    assert got_pairs == want_pairs
    survivors = {
        r.vec_id for r in similarity.semantic_dedup(emb, threshold=0.4).collect()
    }
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert survivors == all_ids - {b for _a, b in want_pairs}


def test_semantic_dedup_plan_shape(spark):
    """One co-location shuffle + one grouped-pandas GEMM stage for the
    pair generation, LeftAnti survivors, no cartesian/nested-loop join
    anywhere — the O(n^2/k) shape that replaces the quadratic cross
    join at scale."""
    from multi_report_etl_pipeline_spark.plans import physical_plan

    plan = physical_plan(QUERIES["emb_semantic_dedup"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # pair stage: exactly one grouped-pandas kernel (the per-cluster
    # GEMM); the kmeans assignment passes are MapInPandas, not grouped
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:3000]


def test_unigram_logprob_matches_python_reference(spark):
    """Tiny corpus scored against the literal CCNet-style definition in
    Python: top-V vocab with add-one smoothing, OOV floor for tokens
    outside the cut, micro-nat integer sums. NULL-text docs yield no
    row, and the result is invariant under repartitioning (the exact
    integer-sum order-independence claim)."""
    import math

    from multi_report_etl_pipeline_spark.operators.text import (
        unigram_lm_stats,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c d"), (3, "zz qq"), (4, None)],
        "doc_id long, text string",
    )
    stats = unigram_lm_stats(docs, vocab_size=2)
    assert stats == {"n_total": 9, "vocab": [("a", 3), ("b", 2)], "vocab_size": 2}
    denom = 9 + 2 + 1.0
    lp = {"a": round(math.log(4 / denom) * 1e6), "b": round(math.log(3 / denom) * 1e6)}
    oov = round(math.log(1 / denom) * 1e6)

    def want_ce(toks):
        s = sum(lp.get(t, oov) for t in toks)
        return -(s / 1e6) / len(toks)

    got = {r["doc_id"]: r for r in unigram_logprob(docs, stats=stats).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_tokens"] == 3
    assert got[1]["cross_entropy"] == pytest.approx(want_ce(["a", "a", "b"]), abs=1e-6)
    assert got[2]["cross_entropy"] == pytest.approx(
        want_ce(["a", "b", "c", "d"]), abs=1e-6
    )
    # all-OOV doc: exactly the floor log-prob
    assert got[3]["cross_entropy"] == pytest.approx(-math.log(1 / denom), abs=1e-6)
    assert got[1]["cross_entropy"] < got[2]["cross_entropy"] < got[3]["cross_entropy"]
    # bucket edges follow the (t1, t2) thresholds
    mid = (got[1]["cross_entropy"] + got[3]["cross_entropy"]) / 2
    buckets = {
        r["doc_id"]: r["ppl_bucket"]
        for r in unigram_logprob(
            docs, stats=stats, buckets=(mid, got[3]["cross_entropy"])
        ).collect()
    }
    assert buckets[1] == "head" and buckets[3] == "tail"
    # partitioning must not change a single value (integer micro-nat sums)
    again = {
        r["doc_id"]: r
        for r in unigram_logprob(docs.repartition(7), stats=stats).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_unigram_logprob_empty_corpus(spark):
    from multi_report_etl_pipeline_spark.operators.text import unigram_logprob

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = unigram_logprob(empty)
    assert out.columns == ["doc_id", "n_tokens", "cross_entropy", "ppl_bucket"]
    assert out.collect() == []
    # all-NULL text behaves like empty: no tokens, no rows
    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert unigram_logprob(nulls).collect() == []


def test_int8_quantize_maps_extremes_and_zero_vectors(spark):
    """max|x| maps to ±127, proportional components round half-away,
    and the zero vector quantizes to all-zero instead of dividing by
    zero."""
    from multi_report_etl_pipeline_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [2.0, -4.0, 0.0]), (2, [0.0, 0.0, 0.0]), (3, [-0.5, 0.25, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["q8"]
        for r in df.select(
            "vec_id", int8_quantize("embedding").alias("q8")
        ).collect()
    }
    # scale = 127/4: round(2*31.75) = round(63.5) half-away -> 64
    assert got[1] == [64, -127, 0]
    assert got[2] == [0, 0, 0]
    assert got[3] == [-127, 64, 127]


def test_int8_topk_recall_vs_exact(spark):
    """int8 quantization must preserve the exact top-10 neighbor sets
    almost everywhere (measured 0.98 mean / 0.9 min per-query recall on
    the sf0.001 fixture)."""
    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id % 100 = 0")
    ex: dict[int, set] = {}
    for r in similarity.brute_topk(emb, q, k=10).collect():
        ex.setdefault(r["q_id"], set()).add(r["c_id"])
    ap: dict[int, set] = {}
    for r in similarity.int8_topk(emb, q, k=10).collect():
        ap.setdefault(r["q_id"], set()).add(r["c_id"])
    assert set(ap) == set(ex)
    recalls = [len(ex[qid] & ap[qid]) / len(ex[qid]) for qid in ex]
    assert min(recalls) >= 0.8, recalls
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def _bpe_python_reference(texts, n_merges, passes=4):
    """Literal re-implementation of the operator's training loop: word
    freqs, weighted adjacent-pair counts, (count DESC, pair ASC)
    argmax, multi-pass space-sentinel replace."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        wf.update(t.split())
    reps = {" " + " ".join(w) + " ": c for w, c in wf.items()}
    merges = []
    for i in range(n_merges):
        pairs: Counter = Counter()
        for rep, c in reps.items():
            s = rep.split()
            for a, b in zip(s, s[1:]):
                pairs[f"{a} {b}"] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = best[0].split(" ")
        merges.append((i, left, right, best[1]))
        new_reps: dict = {}
        for rep, c in reps.items():
            for _ in range(passes):
                rep = rep.replace(f" {best[0]} ", f" {left}{right} ")
            new_reps[rep] = new_reps.get(rep, 0) + c
        reps = new_reps
    return merges


def test_bpe_train_matches_python_reference(spark):
    """The learned merge table must equal the literal Python training
    loop on a corpus where merge order matters (later merges build on
    earlier merged symbols), and must be partitioning-invariant."""
    from multi_report_etl_pipeline_spark.operators.text import bpe_train_merges

    texts = [
        "lower lower lower newer newer low new er er",
        "lowest newest lower low low wide wider widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = _bpe_python_reference(texts, n_merges=5)
    got = [tuple(r) for r in bpe_train_merges(docs, n_merges=5).collect()]
    assert got == want, (got, want)
    # merged symbols must compound: some later merge consumes a merged
    # symbol (multi-char side), or the test corpus is too easy
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in got), got
    again = [
        tuple(r)
        for r in bpe_train_merges(docs.repartition(7), n_merges=5).collect()
    ]
    assert got == again


def test_bpe_train_exhaustion_and_bad_args(spark):
    """Single-char words have no pairs: training stops early with an
    empty merge table rather than looping; n_merges < 1 raises."""
    import pytest as _pytest

    from multi_report_etl_pipeline_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd")], "doc_id long, text string"
    )
    # "ab" and "cd" each fully merge after ONE merge; asking for 3
    # merges must stop at 2 instead of looping on an empty pair table
    out = bpe_train_merges(docs, n_merges=3)
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(0, "a", "b", 4), (1, "c", "d", 1)]
    assert out.columns == ["merge_rank", "left_sym", "right_sym", "pair_count"]
    # all words single-char: pairs are INTRA-word, so no pairs at all
    empty = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert bpe_train_merges(empty, n_merges=2).collect() == []
    with _pytest.raises(ValueError):
        bpe_train_merges(docs, n_merges=0)


def test_bpe_apply_counts_known_merges(spark):
    """Hand-computed application: rank-ordered merges compound, an empty
    merge list degrades to character tokenization, and NULL-text docs
    emit a row with NULL counts."""
    from multi_report_etl_pipeline_spark.operators.text import bpe_apply_counts

    docs = spark.createDataFrame(
        [(1, "lower low er"), (2, "aaaa"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_apply_counts(docs, [("e", "r"), ("l", "o")]).collect()
    }
    # "lower" -> l o w er -> lo w er (3); "low" -> lo w (2); "er" -> er (1)
    assert got[1] == (3, 6)
    # run of a's: no (e,r)/(l,o) merges apply -> 4 chars
    assert got[2] == (1, 4)
    assert got[3] == (None, None)
    chars = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply_counts(docs, []).collect()
    }
    assert chars[1] == 10 and chars[2] == 4  # plain character counts
    # (a,a) on "aaaa": multi-pass rule -> " aa aa " = 2 symbols
    run = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply_counts(docs, [("a", "a")]).collect()
    }
    assert run[2] == 2


def test_logreg_matches_numpy_reference(spark):
    """The distributed GD must reproduce a plain numpy implementation of
    the same update rule (including the half-away-from-zero 6-dp weight
    rounding) exactly: weights bit-equal per iteration, scores equal."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.classifier import (
        _round_half_away,
        logistic_regression_train_score,
    )

    rng = np.random.RandomState(11)
    X = rng.randn(200, 3)
    y = (X[:, 0] + 0.5 * X[:, 1] + 0.2 * rng.randn(200) > 0).astype(float)
    rows = [
        (i, float(y[i]), *(float(v) for v in X[i])) for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, y double, x1 double, x2 double, x3 double"
    )
    scored, w = logistic_regression_train_score(
        df, ["x1", "x2", "x3"], iters=4, lr=0.5
    )

    # numpy twin of the exact update rule
    Xb = np.hstack([np.ones((200, 1)), X])
    wref = np.zeros(4)
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(Xb @ wref)))
        g = Xb.T @ (p - y) / 200
        wref = np.array([_round_half_away(v) for v in wref - 0.5 * g])
    assert w == [float(v) for v in wref], (w, wref)
    got = {r["doc_id"]: (r["score"], r["pred"]) for r in scored.collect()}
    pfin = 1.0 / (1.0 + np.exp(-(Xb @ wref)))
    for i in range(200):
        sref = _round_half_away(float(pfin[i]))
        assert got[i] == (sref, int(sref >= 0.5)), (i, got[i], sref)


def test_logreg_learns_separable_data(spark):
    """Given linearly separable features, enough GD steps must reach
    near-perfect training accuracy — the operator actually LEARNS, not
    just iterates (the fixture corpus's lang label is textual noise by
    construction, so this is where convergence is proven)."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.classifier import (
        logistic_regression_train_score,
    )

    rng = np.random.RandomState(3)
    x = rng.randn(300)
    y = (x > 0).astype(float)
    df = spark.createDataFrame(
        [(i, float(y[i]), float(x[i])) for i in range(300)],
        "doc_id long, y double, x1 double",
    )
    scored, w = logistic_regression_train_score(df, ["x1"], iters=30, lr=1.0)
    rows = scored.collect()
    acc = sum(
        1 for r in rows if r["pred"] == int(y[r["doc_id"]])
    ) / len(rows)
    assert acc >= 0.97, (acc, w)
    assert w[1] > 0.0, w  # separating direction recovered


def test_logreg_empty_corpus(spark):
    """Empty input: no gradient step, empty scored frame, zero weights."""
    from multi_report_etl_pipeline_spark.operators.classifier import (
        logistic_regression_train_score,
    )

    df = spark.createDataFrame([], "doc_id long, y double, x1 double")
    scored, w = logistic_regression_train_score(df, ["x1"], iters=3)
    assert scored.count() == 0
    assert w == [0.0, 0.0]


def test_pca_matches_numpy_reference(spark):
    """The distributed moment pass + driver power iteration must equal a
    straight numpy implementation of the same algorithm (same covariance
    moment formula, same 6-dp roundings) exactly."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.similarity import (
        pca_power_scores,
    )

    rng = np.random.RandomState(5)
    X = rng.randn(120, 6) * np.array([3.0, 1.0, 0.5, 0.2, 0.1, 0.05])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    got = {r["id"]: r["pc1"] for r in pca_power_scores(df, iters=3).collect()}

    def round6(x):
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    n, dim = X.shape
    s = X.sum(axis=0)
    cov = round6(X.T @ X / n - np.outer(s / n, s / n))
    mu = round6(s / n)
    v = np.full(dim, float(round6(np.asarray(1.0 / np.sqrt(dim)))))
    for _ in range(3):
        w = cov @ v
        v = round6(w / np.sqrt((w * w).sum()))
    ref = round6(X @ v - (v * mu).sum())
    for i in range(n):
        assert got[i] == ref[i], (i, got[i], ref[i])


def test_pca_recovers_planted_direction(spark):
    """With one dominant variance direction, enough iterations must
    align the learned component with it (|cosine| > 0.99)."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.similarity import (
        pca_power_scores,
    )

    rng = np.random.RandomState(9)
    true_dir = np.array([1.0, 1.0, -1.0, 0.5]) / np.sqrt(3.25)
    X = np.outer(rng.randn(200) * 10.0, true_dir) + rng.randn(200, 4) * 0.3
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    scores = np.array(
        [
            r["pc1"]
            for r in pca_power_scores(df, iters=15).orderBy("id").collect()
        ]
    )
    # projection onto the true direction must explain nearly all of the
    # learned scores' variance
    proj = (X - X.mean(axis=0)) @ true_dir
    corr = np.corrcoef(scores, proj)[0, 1]
    assert abs(corr) > 0.99, corr


def test_pca_empty_and_constant_corpus(spark):
    """Empty corpus: empty result, stable schema. Constant corpus: zero
    covariance is a loud error, not NaN scores."""
    import pytest as _pytest

    from multi_report_etl_pipeline_spark.operators.similarity import (
        pca_power_scores,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = pca_power_scores(empty)
    assert out.count() == 0 and out.columns == ["id", "pc1"]
    const = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="zero covariance"):
        pca_power_scores(const)


def test_bloom_decontaminate_consistent_with_exact(spark):
    """The bloom pre-screen must lose NOTHING versus the exact
    semi-join: restricted to verified hits (n_shared_ngrams > 0), its
    output must equal docs_contamination's (same n=4, same split) —
    Bloom filters have no false negatives, and the verification join
    removes every false positive from the shared count."""
    exact = {
        (r["doc_id"], r["n_shared_ngrams"])
        for r in QUERIES["docs_contamination"].fn(spark, SF_DIR).collect()
    }
    bloom_rows = QUERIES["docs_bloom_decontaminate"].fn(spark, SF_DIR).collect()
    verified = {
        (r["doc_id"], r["n_shared_ngrams"])
        for r in bloom_rows
        if r["n_shared_ngrams"] > 0
    }
    assert verified == exact, (
        f"missing {len(exact - verified)}, spurious {len(verified - exact)}"
    )
    # candidates bound shared counts from above (the FP margin)
    for r in bloom_rows:
        assert r["n_candidate_ngrams"] >= r["n_shared_ngrams"]


def test_pagerank_matches_numpy_reference(spark):
    """Star + path graph: the distributed iteration must equal a plain
    numpy implementation of the same rounded update exactly, and the
    star hub must out-rank every leaf."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.graph import (
        PAGERANK_DAMPING,
        pagerank,
    )

    # hub 0 connected to 1..5; path 10-11-12
    pairs = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12)]
    df = spark.createDataFrame(pairs, "doc_id_1 long, doc_id_2 long")
    got = {r["doc_id"]: r["rank"] for r in pagerank(df, iters=3).collect()}

    nodes = sorted({a for p in pairs for a in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in pairs:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)

    def round6(x):
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    r = np.full(n, float(round6(np.asarray(1.0 / n))))
    d = PAGERANK_DAMPING
    for _ in range(3):
        r = round6((1.0 - d) / n + d * (adj.T @ (r / deg)))
    for v in nodes:
        assert got[v] == r[idx[v]], (v, got[v], r[idx[v]])
    assert all(got[0] > got[i] for i in range(1, 6)), got


def test_pagerank_empty_graph(spark):
    from multi_report_etl_pipeline_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "doc_id_1 long, doc_id_2 long")
    out = pagerank(empty)
    assert out.count() == 0 and out.columns == ["doc_id", "rank"]


def test_hll_accuracy_and_partition_invariance(spark):
    """The portable HLL estimate must land within 10% of the exact
    distinct count (m=256 -> ~6.5% standard error), and — because the
    register max is a mergeable partial agg and the harmonic sum is
    over exact dyadic rationals — the estimate must be BIT-identical
    under different parallelism."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table

    est = QUERIES["lineitem_hll_distinct"].fn(spark, SF_DIR).collect()[0]
    li = read_table(spark, SF_DIR, "lineitem")
    exact = li.select(F.countDistinct("l_orderkey")).collect()[0][0]
    assert abs(est["hll_estimate"] - exact) / exact < 0.10, (
        est["hll_estimate"],
        exact,
    )
    # partition invariance: rerun over a repartitioned temp copy
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.repartition(13).write.mode("overwrite").parquet(
            f"{d}/lineitem.parquet"
        )
        est2 = QUERIES["lineitem_hll_distinct"].fn(spark, d).collect()[0]
    assert est2["hll_estimate"] == est["hll_estimate"]


def test_binned_percentiles_within_one_bin(spark):
    """The histogram quantile estimate is within one bin width of the
    exact interpolated percentile by construction."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table

    est = QUERIES["events_binned_percentiles"].fn(spark, SF_DIR).collect()[0]
    ev = read_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p9"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        ((F.max("value") - F.min("value")) / 1000.0).alias("w"),
    ).collect()[0]
    for got, exact in ((est["p50"], row["p50"]), (est["p90"], row["p9"]), (est["p99"], row["p99"])):
        assert abs(got - exact) <= row["w"] + 1e-9, (got, exact, row["w"])


def test_cms_overestimate_guarantee_and_partition_invariance(spark):
    """Count-min is ONE-SIDED: est >= exact for every probe (Cormode &
    Muthukrishnan 2005, Thm 1), with expected overestimate ~2n/width.
    The counter matrix is a partial agg merged by addition, so the
    sketch — and therefore every estimate — must be identical under
    different parallelism. The absent probe's estimate is pure
    collision mass: >= 0 and bounded by the same error budget."""
    import tempfile

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import text

    rows = {
        r["token"]: r
        for r in QUERIES["docs_cms_frequencies"].fn(spark, SF_DIR).collect()
    }
    assert "zzz_absent" in rows and rows["zzz_absent"]["exact_count"] == 0
    docs = read_table(spark, SF_DIR, "documents")
    n_tokens = docs.select(
        F.sum(F.size(text.words("text")))
    ).collect()[0][0]
    budget = 2.0 * n_tokens / 1024  # eps*n with eps = 2/width
    for r in rows.values():
        assert r["cms_estimate"] >= r["exact_count"], r
        assert r["cms_estimate"] - r["exact_count"] <= budget, (r, budget)
    with tempfile.TemporaryDirectory() as d:
        docs.repartition(13).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        rerun = {
            r["token"]: r["cms_estimate"]
            for r in QUERIES["docs_cms_frequencies"].fn(spark, d).collect()
        }
    assert rerun == {t: r["cms_estimate"] for t, r in rows.items()}


def test_hash_embed_topk_self_retrieval_and_reference(spark):
    """The query doc must retrieve itself at cosine 1.0 in first
    position, and the Spark hash embedding must equal the literal
    Python hashing-trick definition for a sample of docs."""
    import hashlib

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import text

    rows = QUERIES["docs_hash_embed_topk"].fn(spark, SF_DIR).collect()
    assert rows[0]["doc_id"] == 0 and rows[0]["cosine"] == 1.0
    assert all(
        rows[i]["cosine"] >= rows[i + 1]["cosine"] for i in range(len(rows) - 1)
    )

    docs = read_table(spark, SF_DIR, "documents").limit(5)
    got = {
        r["doc_id"]: r["v"]
        for r in docs.select(
            "doc_id", text.hash_embedding("text", 32).alias("v")
        ).collect()
    }

    def h48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    import re

    for r in docs.select("doc_id", "text").collect():
        toks = re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
        v = [0] * 32
        for t in toks:
            v[h48("i:" + t) % 32] += 1 if h48("s:" + t) % 2 == 0 else -1
        assert got[r["doc_id"]] == v, r["doc_id"]


def test_triangle_stats_matches_bruteforce(spark):
    """Per-node triangle counts and clustering coefficients must equal
    the quadratic Python reference on the fixture's near-dup graph."""
    import itertools

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import dedup

    docs = read_table(spark, SF_DIR, "documents")
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v, nb in adj.items():
        tri = sum(
            1 for b, c in itertools.combinations(sorted(nb), 2) if (b, c) in pairs
        )
        deg = len(nb)
        cc = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
        want[v] = (deg, tri, cc)
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in QUERIES["docs_triangle_stats"].fn(spark, SF_DIR).collect()
    }
    assert want and got == want
    assert any(t for _, t, _ in want.values()), "fixture graph should have triangles"


def test_hashed_ngram_logreg_learns_planted_token(spark):
    """A planted marker token must be learnable by the hashed-feature
    classifier: docs containing it labeled 1, others 0, and after
    training with enough iterations every prediction is correct (the
    marker's hash bucket carries the signal)."""
    from multi_report_etl_pipeline_spark.operators import classifier, text
    from pyspark.sql import functions as F

    rows = [
        (i, ("xmarker " if i % 2 == 0 else "") + "alpha beta gamma delta")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = [f"f{i}" for i in range(32)]
    feats = df.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).cast("double").alias("y"),
        *[
            text.hash_embedding("text", 32)[i].cast("double").alias(c)
            for i, c in enumerate(cols)
        ],
    )
    w = classifier.logistic_regression_fit(feats, cols, label_col="y", iters=40)
    got = {
        r["doc_id"]: r["pred"]
        for r in classifier.logistic_regression_score(feats, cols, w).collect()
    }
    assert all(got[i] == (1 if i % 2 == 0 else 0) for i in range(40)), got


def test_hourly_unique_users_sketch_accuracy(spark):
    """The per-hour HLL estimate must be within 15% of the exact
    per-hour distinct count (m=256, small windows lean on the
    linear-counting branch, which is tighter)."""
    rows = QUERIES["events_hourly_unique_users"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        err = abs(r["hll_uniques"] - r["exact_uniques"]) / max(r["exact_uniques"], 1)
        assert err < 0.15, (r["hour_ts"], r["exact_uniques"], r["hll_uniques"])


def test_substring_clean_consistent_with_runs(spark):
    """The excise half must agree with the detect half: per doc,
    n_kept = n_tokens - tokens covered by its (merged, non-overlapping)
    runs, and no clean text may still contain a corpus-duplicated
    k-gram that a second detect pass would cut at the same positions
    (the runs are maximal, so re-running detect on survivors of a doc
    can only find NEW cross-doc collisions created by excision — we
    assert the arithmetic identity, the stronger per-doc invariant)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators import text

    runs = {}
    for r in QUERIES["docs_duplicate_runs"].fn(spark, SF_DIR).collect():
        runs.setdefault(r["doc_id"], []).append((r["run_start"], r["run_end"]))
    docs = read_table(spark, SF_DIR, "documents")
    n_tokens = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(text.words("text")).alias("n")
        ).collect()
    }
    clean = {
        r["doc_id"]: r["n_kept"]
        for r in QUERIES["docs_substring_clean"].fn(spark, SF_DIR).collect()
    }
    assert runs, "fixture should contain duplicated runs"
    for doc, n in n_tokens.items():
        cut = sum(e - s + 1 for s, e in runs.get(doc, []))
        want = n - cut
        if want == 0:
            assert doc not in clean
        else:
            assert clean[doc] == want, (doc, n, cut, clean.get(doc))


def test_hll_log2_rank_boundary_exact(spark):
    """The floor(log2)+1 bit-length used for the keyed HLL's rank must
    equal the string-CONV bit-length it replaced at EVERY power-of-two
    boundary of the 40-bit suffix domain (float log2 only rounds up to
    k when the input is within ulps of 2^k — impossible below 2^52)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        _HLL_SUFFIX_BITS as w,
    )

    vals = [0, 1, 2, 3] + [
        2**k + d for k in range(2, w + 1) for d in (-1, 0, 1)
    ]
    df = spark.createDataFrame(
        [(v,) for v in sorted(set(x for x in vals if 0 <= x < 2**w))],
        "low long",
    )
    bad = df.select(
        "low",
        F.when(F.col("low") == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.conv(F.col("low"), 10, 2)))
        .alias("conv_rank"),
        F.when(F.col("low") == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - (F.floor(F.log2("low")) + 1).cast("int"))
        .alias("log_rank"),
    ).filter("conv_rank <> log_rank").collect()
    assert bad == [], bad


def test_fuzzy_contamination_finds_planted_paraphrase(spark):
    """fuzzy_contamination_pairs must flag (a) a verbatim eval copy in
    the training corpus (identical shingle sets share every band — found
    with certainty, est_jaccard 1.0) and (b) a light paraphrase that
    exact n-gram containment treats as distinct; and must emit nothing
    for unrelated docs below the threshold."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.operators.dedup import (
        fuzzy_contamination_pairs,
    )

    base = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    eval_text = "the quick brown fox jumps over the lazy dog near the river bank"
    # paraphrase: one word swapped — 3-gram Jaccard stays well over 0.5
    para = eval_text.replace("lazy", "sleepy")
    bench = spark.createDataFrame([(1, eval_text)], "doc_id long, text string")
    corpus = base.filter(F.col("doc_id") < 50).unionByName(
        spark.createDataFrame(
            [(800_001, eval_text), (800_002, para)], "doc_id long, text string"
        )
    )
    pairs = {
        (r.doc_id, r.bench_doc_id): r.est_jaccard
        for r in fuzzy_contamination_pairs(
            corpus, bench, jaccard_threshold=0.5
        ).collect()
    }
    assert pairs[(800_001, 1)] == 1.0
    assert (800_002, 1) in pairs and pairs[(800_002, 1)] >= 0.5
    # nothing else in the tiny fixture slice should clear 0.5 vs this text
    assert all(d >= 800_000 for d, _ in pairs)


def test_dhash_near_dup_recovers_planted_twins(spark):
    """Every corrupted-tail twin must pair with its original at
    Hamming <= 1 — either as an explicit banded pair or by collapsing
    into the same exact-hash group when the corruption didn't flip
    bit 63."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        QUERIES as LLM_QUERIES,
        _dhash_frame,
    )

    hashes = {
        r.doc_id: (r.dhash_hi, r.dhash_lo)
        for r in _dhash_frame(spark, SF_DIR, with_twins=True).collect()
    }
    originals = [d for d in hashes if d < 1_000_000_000]
    assert originals, "fixture should produce eligible images"
    pair_df = LLM_QUERIES["docs_dhash_near_dup"].fn(spark, SF_DIR)
    pairs = {(r.rep_id_1, r.rep_id_2) for r in pair_df.collect()}
    # rep of each hash group
    rep = {}
    for d, h in hashes.items():
        rep[h] = min(rep.get(h, d), d)
    found = 0
    for d in originals:
        twin = d + 1_000_000_000
        h_o, h_t = hashes[d], hashes[twin]
        if h_o == h_t:
            continue  # same group — collapsed, nothing to pair
        r1, r2 = sorted((rep[h_o], rep[h_t]))
        assert (r1, r2) in pairs, (d, twin)
        found += 1
    assert found > 100  # the fixture plants hundreds of 1-bit twins


def test_audio_near_dup_recovers_planted_twins(spark):
    """Every damaged-tail audio twin must pair with its original at
    Hamming <= 3 — either as an explicit banded pair or by collapsing
    into the same exact-fingerprint group when no tail bit flipped."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        QUERIES as LLM_QUERIES,
        _audio_fp_frame,
    )

    fps = {
        r.doc_id: (r.afp_hi, r.afp_lo)
        for r in _audio_fp_frame(spark, SF_DIR, with_twins=True).collect()
    }
    originals = [d for d in fps if d < 1_000_000_000]
    assert originals, "fixture should produce eligible clips"
    pair_df = LLM_QUERIES["docs_audio_near_dup"].fn(spark, SF_DIR)
    pairs = {(r.rep_id_1, r.rep_id_2) for r in pair_df.collect()}
    rep = {}
    for d, h in fps.items():
        rep[h] = min(rep.get(h, d), d)
    found = 0
    for d in originals:
        twin = d + 1_000_000_000
        h_o, h_t = fps[d], fps[twin]
        if h_o == h_t:
            continue  # collapsed into one group — nothing to pair
        r1, r2 = sorted((rep[h_o], rep[h_t]))
        assert (r1, r2) in pairs, (d, twin)
        found += 1
    assert found > 50  # the tail damage flips bits on most clips


def test_video_near_dup_recovers_planted_twins_and_caps_hot_frame(spark):
    """Every re-cut twin must pair with its original at n_shared >= 2
    (they share frames 0-2 unless the original's own frames collide),
    and the constant twin frame — one hash shared by EVERY twin — must
    be absorbed by the document-frequency guard rather than exploding
    the join or leaking into pair counts."""
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        _VIDEO_MAX_DF,
        QUERIES as LLM_QUERIES,
        _video_dhash_frame,
    )

    fh = _video_dhash_frame(spark, SF_DIR, with_twins=True).collect()
    by_vid = {}
    for r in fh:
        by_vid.setdefault(r.doc_id, set()).add((r.dh_hi, r.dh_lo))
    originals = [d for d in by_vid if d < 1_000_000_000]
    assert originals, "fixture should produce eligible clips"
    # the constant twin frame hashes to (0,0) on every twin -> hot
    df_00 = sum(1 for hs in by_vid.values() if (0, 0) in hs)
    assert df_00 > _VIDEO_MAX_DF  # the guard MUST be engaging
    pair_rows = LLM_QUERIES["docs_video_near_dup"].fn(spark, SF_DIR).collect()
    pairs = {(r.vid_1, r.vid_2): r.n_shared for r in pair_rows}
    # recompute expected pairs exactly: shared distinct hashes after
    # dropping hashes with df > cap, threshold 2
    df = {}
    for hs in by_vid.values():
        for h in hs:
            df[h] = df.get(h, 0) + 1
    kept = {v: {h for h in hs if df[h] <= _VIDEO_MAX_DF} for v, hs in by_vid.items()}
    found = 0
    for d in originals:
        twin = d + 1_000_000_000
        n = len(kept[d] & kept[twin])
        if n >= 2:
            assert pairs.get((d, twin)) == n, (d, twin, n)
            found += 1
    assert found > 100  # twins share 3 real frames almost always


def test_hourly_exact_uniques_bitmap_matches_countdistinct(spark):
    """The round-10 bitmap-index exact plan must emit exactly the rows
    of a plain per-hour countDistinct on the fixture, and the plan must
    carry the bitmap shape (bit_or partials, no Expand distinct
    rewrite)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.io import read_table
    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        _hourly_exact_uniques,
    )

    ev = read_table(spark, SF_DIR, "events")
    bitmap = _hourly_exact_uniques(spark, SF_DIR, ev)
    tl = F.col("ts").cast("timestamp_ltz").cast("long")
    counted = (
        ev.groupBy(F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600))).alias("hour_t"))
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )
    a = {(r["hour_t"], r["exact_uniques"]) for r in bitmap.collect()}
    b = {(r["hour_t"], r["exact_uniques"]) for r in counted.collect()}
    assert a == b and a
    plan = bitmap._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in plan, plan[:2000]


def test_hourly_exact_uniques_null_inputs_fall_back(spark, tmp_path):
    """NULL users/ts break bitmap parity (countDistinct ignores NULL
    users but keeps their hour groups; NULL ts forms a NULL hour
    group) — the gate must detect them and serve the countDistinct
    plan, keeping values identical to the fallback arm."""
    import datetime

    from pyspark.sql import types as T

    from multi_report_etl_pipeline_spark.queries.llm_ops import (
        _hourly_exact_uniques,
    )

    base = datetime.datetime(2024, 1, 1, 0, 30)
    rows = [
        (base, 1), (base, 2), (base, None),                      # NULL user
        (base + datetime.timedelta(hours=1), None),              # only NULLs
        (base + datetime.timedelta(hours=2), 3),
    ]
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, schema).write.parquet(
        sf_dir + "/events.parquet")
    ev = spark.read.parquet(sf_dir + "/events.parquet")
    got = _hourly_exact_uniques(spark, sf_dir, ev)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" not in plan, "NULL inputs must take the fallback"
    vals = sorted(
        (str(r["hour_t"]), r["exact_uniques"]) for r in got.collect()
    )
    # hour 0: users {1,2}; hour 1: only NULL user -> 0; hour 2: {3}
    assert [v[1] for v in vals] == [2, 0, 1], vals
