"""Vector similarity search over embedding columns (array<float>).

- ``cosine``: pure JVM expression (zip_with product + left-fold sum in
  doubles) — deterministic element order, no Python in the loop.
- ``brute_topk``: exact baseline — broadcast the (small) query set
  against the corpus, rank per query. At 100 TB corpus scale the scan is
  embarrassingly parallel and the top-k is a per-partition heap.
- ``lsh_ann_pairs`` / ``lsh_topk``: the scale path — random-hyperplane
  bucketing (BucketedRandomProjectionLSH) prunes the candidate space.
- ``label_centroids``: posexplode + per-(label, dim) mean — the IVF
  coarse-quantizer training step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot(a: str, b: str) -> Column:
    return F.expr(DOT.format(a=a, b=b))


def _prune_top_cols(sims, take: int):
    """Per-row column indices of the ``take`` highest ``sims`` with
    boundary ties broken to the LOWEST c_id — the same (sim DESC, c_id
    ASC) rule as the final JVM re-score window, so the prune's kept set
    is exactly what the exact ranking would keep even when more than
    ``take`` candidates tie at the cut value (ADVICE r7: a bare
    argpartition cuts ties arbitrarily, and a dropped lower-c_id row is
    unrecoverable downstream). PRECONDITION: the caller has ordered the
    ``sims`` columns by ascending c_id, so the stable argsort's
    positional tie-break IS the id tie-break. The fast path stays
    argpartition; only rows with surplus ties at the cut value (exact
    duplicate scores straddling the boundary — rare) pay a full stable
    sort. Within-row output order is arbitrary: only MEMBERSHIP
    matters, because the JVM re-score re-ranks every survivor."""
    import numpy as np  # noqa: PLC0415

    part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
    pvals = np.take_along_axis(sims, part, axis=1)
    cut = pvals.min(axis=1)
    surplus = (sims == cut[:, None]).sum(axis=1) > (pvals == cut[:, None]).sum(
        axis=1
    )
    for r in np.nonzero(surplus)[0]:
        part[r] = np.argsort(-sims[r], kind="stable")[:take]
    return part


# Empty-result schemas for the ANN kernels' empty-query short-circuit
# (ADVICE r7: the GEMM rewrite raised from np.stack on a 0-row query
# frame where the old distributed path returned an empty result).
_TOPK_SCHEMA = "q_id long, rank int, c_id long, cosine_sim double"
_INT8_SCHEMA = "q_id long, rank int, c_id long, int8_cosine double"


def norm(a: str) -> Column:
    return F.sqrt(F.expr(DOT.format(a=a, b=a)))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm_prune: bool = True,
    q_rows: list | None = None,
    max_q: int = 4096,
) -> DataFrame:
    """Exact cosine top-k per query vector (excluding self-matches).

    The query side is broadcast — the cross join never shuffles the
    corpus, so cost is one corpus scan regardless of cluster size.

    ``gemm_prune=True`` (default) runs the |Q| x |C| score matrix as ONE
    numpy GEMM per corpus Arrow batch inside ``mapInPandas`` and emits
    only each query's per-batch top-(k+margin) candidate ids — the same
    dense-kernel lesson as the LSH/IVF paths (a JVM fold per pair is
    ~10x slower than a blocked GEMM; measured 3.2 s -> 0.6 s at sf1).
    The FINAL ranking and the emitted similarity recompute through the
    identical JVM zip_with/aggregate fold over the tiny candidate set
    (n_batches x |Q| x (k+margin) rows), so output values are
    bit-identical to the pure-JVM path and the GEMM only prunes. The
    margin guards the prune against float-associativity reordering near
    the rank-k boundary (fp noise ~1e-15 vs margin of 5 whole ranks).
    Exactness vs the DuckDB oracle is the correctness gate either way.

    ``q_rows`` lets a caller that invokes the same query set repeatedly
    (a serving loop, the bench's min-of-N timing) pass the collected
    ``[{q_id, q_vec}]`` rows once instead of re-running the collect job
    per invocation; the caller owns invalidation (the query set is a
    pure function of its source snapshot). ``None`` keeps the
    self-contained single-shot behavior.

    ``max_q`` ENFORCES the broadcast contract: the query side crosses
    the driver and is broadcast to every task, so it must be bounded by
    construction (a LIMIT-ed frame, a fixed id list), never
    corpus-proportional. A caller whose query set exceeds ``max_q``
    gets a loud ValueError instead of a silent driver-OOM time bomb at
    100x the data; chunk the query set and union the results instead.
    """
    q = queries.limit(max_q + 1).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    if gemm_prune:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from collections.abc import Iterator  # noqa: PLC0415

        # Bounded by-design driver step (like the IVF sample-trained
        # quantizer): the query set is small/broadcastable by contract,
        # and the GEMM kernel needs its matrix in memory.
        if q_rows is None:
            q_rows = q.collect()
        if len(q_rows) > max_q:
            raise ValueError(
                f"brute_topk query set has {len(q_rows)} rows, over the "
                f"max_q={max_q} broadcast bound — pass a fixed-size query "
                "frame (LIMIT by construction) or chunk and union"
            )
        if not q_rows:
            return c.sparkSession.createDataFrame([], _TOPK_SCHEMA)
        q_ids = np.array([r["q_id"] for r in q_rows], dtype="int64")
        q_mat = np.stack([np.asarray(r["q_vec"], dtype="float64") for r in q_rows])
        q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
        n_cand = k + 5

        def batch_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # ascending-id columns: _prune_top_cols' tie precondition
                order = np.argsort(pdf["c_id"].to_numpy())
                vecs = pdf["c_vec"].to_numpy()[order]
                m = np.stack(vecs).astype("float64")
                m = m / np.linalg.norm(m, axis=1, keepdims=True)
                ids = pdf["c_id"].to_numpy()[order]
                sims = q_mat @ m.T  # |Q| x batch
                sims[q_ids[:, None] == ids[None, :]] = -np.inf  # self-matches
                take = min(n_cand, sims.shape[1])
                top = _prune_top_cols(sims, take).reshape(-1)
                # carry the candidate vector through — no corpus join-back
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(q_ids, take),
                        "c_id": ids[top],
                        "c_vec": [vecs[j] for j in top],
                    }
                )

        cand = c.mapInPandas(batch_topk, "q_id long, c_id long, c_vec array<float>")
        pairs = cand.join(F.broadcast(q), "q_id").filter(F.col("c_id") != F.col("q_id"))
    else:
        if q.count() > max_q:  # limited to max_q+1 above: bounded probe
            raise ValueError(
                f"brute_topk query set exceeds max_q={max_q} broadcast bound"
            )
        pairs = c.crossJoin(F.broadcast(q)).filter(F.col("c_id") != F.col("q_id"))
    sim = F.expr(DOT.format(a="q_vec", b="c_vec")) / (
        F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
        * F.sqrt(F.expr(DOT.format(a="c_vec", b="c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("sim", 6).alias("cosine_sim"))
    )


def int8_quantize(vec_col: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale by 127/max|x| and
    round to integers in [-127, 127] — 4x the memory/scan bandwidth of
    f32 embeddings, the standard storage-side ANN compression. All ops
    (cast, divide, multiply, half-away-from-zero round) are IEEE-exact
    and identical across engines, so quantized vectors — and every dot
    product over them — are BIT-exact reproducible, which is what lets
    the int8 ANN path sit under the full value oracle rather than a
    rows-only gate. Zero vectors quantize to all-zero (no 0/0)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0.0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    return F.transform(v, lambda x: F.round(x.cast("double") * scale, 0).cast("int"))


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_rows: list | None = None,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors — the
    compressed-storage ANN serving path next to ``brute_topk``'s exact
    f32 baseline (recall vs exact is gated in tests/test_llm_ops.py).

    Same scale shape as ``brute_topk``: the query side is broadcast, a
    numpy GEMM per corpus Arrow batch prunes to per-batch candidates,
    and the final ranking recomputes through the JVM fold over the tiny
    candidate set. Because quantized components are integers (|q8| <=
    127, dims << 2^26), every product and partial sum in the float64
    GEMM is EXACTLY representable — the GEMM is not just a prune here,
    it is exact integer arithmetic, and the emitted score is bit-equal
    on any engine. Zero vectors are excluded from both sides (cosine
    undefined).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    nonzero = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    ) > F.lit(0.0)
    q = queries.filter(nonzero).select(
        F.col(id_col).alias("q_id"), int8_quantize(vec_col).alias("q_q8")
    )
    c = corpus.filter(nonzero).select(
        F.col(id_col).alias("c_id"), int8_quantize(vec_col).alias("c_q8")
    )
    # bounded-by-contract driver step, same as brute_topk: the query
    # set is small/broadcastable, and the GEMM needs its matrix local
    if q_rows is None:
        q_rows = q.collect()
    if not q_rows:
        return c.sparkSession.createDataFrame([], _INT8_SCHEMA)
    q_ids = np.array([r["q_id"] for r in q_rows], dtype="int64")
    q_mat = np.stack([np.asarray(r["q_q8"], dtype="float64") for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    n_cand = k + 5

    def batch_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # ascending-id columns: _prune_top_cols' tie precondition
            order = np.argsort(pdf["c_id"].to_numpy())
            vecs = pdf["c_q8"].to_numpy()[order]
            m = np.stack(vecs).astype("float64")
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            ids = pdf["c_id"].to_numpy()[order]
            sims = q_mat @ m.T
            sims[q_ids[:, None] == ids[None, :]] = -np.inf
            take = min(n_cand, sims.shape[1])
            top = _prune_top_cols(sims, take).reshape(-1)
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, take),
                    "c_id": ids[top],
                    "c_q8": [vecs[j] for j in top],
                }
            )

    cand = c.mapInPandas(batch_topk, "q_id long, c_id long, c_q8 array<int>")
    pairs = cand.join(F.broadcast(q), "q_id").filter(F.col("c_id") != F.col("q_id"))
    sim = F.expr(DOT.format(a="q_q8", b="c_q8")) / (
        F.sqrt(F.expr(DOT.format(a="q_q8", b="q_q8")))
        * F.sqrt(F.expr(DOT.format(a="c_q8", b="c_q8")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("sim", 6).alias("int8_cosine"))
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding similar/near-dup pairs (cosine >= threshold).

    Quadratic — the oracle-checkable baseline. The LSH variant below is
    the one to run at scale; this one documents the exact semantics.
    """
    a = corpus.select(F.col(id_col).alias("id_1"), F.col(vec_col).alias("v1"))
    b = corpus.select(F.col(id_col).alias("id_2"), F.col(vec_col).alias("v2"))
    sim = F.expr(DOT.format(a="v1", b="v2")) / (
        F.sqrt(F.expr(DOT.format(a="v1", b="v1")))
        * F.sqrt(F.expr(DOT.format(a="v2", b="v2")))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_1") < F.col("id_2"))
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_1", "id_2", "cosine_sim")
    )


def cosine_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup DEDUP: keep a vector only when no
    lower-id vector is cosine-similar at >= ``threshold`` (the min-id
    survivor rule every other dedup family here uses, applied to the
    semantic-similarity graph instead of a content fingerprint).

    ``candidate_pairs`` picks the candidate generator: by default the
    exact quadratic ``near_dup_pairs`` (the oracle-parity baseline);
    at scale pass ``lsh_ann_pairs(...)`` output — any DataFrame with
    (id_1 < id_2) columns works, and the survivor step is the same
    distinct + left_anti join either way (one shuffle on the id, dropped
    set is |near-dup pairs|-bounded, never the corpus).
    """
    pairs = (
        near_dup_pairs(corpus, threshold, id_col, vec_col)
        if candidate_pairs is None
        else candidate_pairs
    )
    dropped = pairs.select(F.col("id_2").alias(id_col)).distinct()
    return corpus.join(dropped, id_col, "left_anti")


def cluster_near_dup_pairs(
    corpus: DataFrame,
    assign: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup candidate pairs restricted to cluster-mates: all pairs
    within each cluster of ``assign`` (an (id, cluster) frame, e.g.
    ``distributed_kmeans`` output) at cosine >= ``threshold``.

    Physical shape: one shuffle co-locating each cluster, then ONE
    normalized GEMM per cluster inside Arrow ``applyInPandas`` emits
    candidates at (threshold - 1e-6); the exact JVM zip_with/aggregate
    fold rescoring (vectors carried through — no corpus join-back)
    makes the emitted ``cosine_sim`` bit-identical to the quadratic
    ``near_dup_pairs``, so the GEMM only prunes. Work is
    O(sum cluster_size^2) ≈ O(n^2/k) instead of O(n^2)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    clustered = vecs.join(assign.select("id", "cluster"), "id")
    cut = float(threshold) - 1e-6

    _empty = {"id_1": "int64", "id_2": "int64"}

    def pairs_of(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_1": [], "id_2": [], "v1": [], "v2": []}
            ).astype(_empty, errors="ignore")
        pdf = pdf.sort_values("id").reset_index(drop=True)  # id_1 < id_2
        m = np.stack(pdf["v"].to_numpy()).astype("float64")
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["id"].to_numpy()
        sims = m @ m.T
        iu, ju = np.triu_indices(len(ids), 1)
        keep = sims[iu, ju] >= cut
        vs = pdf["v"].to_numpy()
        return pd.DataFrame(
            {
                "id_1": ids[iu[keep]],
                "id_2": ids[ju[keep]],
                "v1": [vs[i] for i in iu[keep]],
                "v2": [vs[j] for j in ju[keep]],
            }
        )

    cand = clustered.groupBy("cluster").applyInPandas(
        pairs_of, "id_1 long, id_2 long, v1 array<float>, v2 array<float>"
    )
    sim = F.expr(DOT.format(a="v1", b="v2")) / (
        F.sqrt(F.expr(DOT.format(a="v1", b="v1")))
        * F.sqrt(F.expr(DOT.format(a="v2", b="v2")))
    )
    return (
        cand.withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_1", "id_2", "cosine_sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public): cluster
    the corpus by embedding geometry, then prune near-duplicates only
    WITHIN each cluster — the practical O(n^2/k) semantic dedup (true
    near-dups land in the same cell, so the cross-cluster pairs the
    restriction skips are overwhelmingly non-duplicates).

    Composition of two oracle-proven parts: ``distributed_kmeans``
    (engine-portable Lloyd's) for the partition and the min-id survivor
    rule of ``cosine_dedup`` over the cluster-restricted pairs — so the
    ENTIRE operator sits under a value-level DuckDB oracle (unrolled
    kmeans CTEs + pairwise-cosine tail; queries/llm_ops.py). At 100 TB,
    k scales with the corpus to hold the per-cluster quadratic bounded,
    and the pair stage is one co-location shuffle + per-cluster GEMMs."""
    assign = distributed_kmeans(corpus, k, iters, id_col, vec_col)
    pairs = cluster_near_dup_pairs(corpus, assign, threshold, id_col, vec_col)
    return cosine_dedup(corpus, threshold, id_col, vec_col, candidate_pairs=pairs)


def lsh_ann_pairs(
    corpus: DataFrame,
    max_l2_dist: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate neighbor pairs via random-projection LSH buckets
    (Euclidean): bucket_i = floor(<v, r_i> / bucket_length) for
    ``num_hash_tables`` fixed Gaussian directions r_i (deterministic
    under ``seed``); all pairs within a (table, bucket) group are scored
    exactly, then deduped across tables.

    Physical strategy: the r_i enter the plan as array literals (the
    projection is a JVM fold, one scan, no fit step), and the per-bucket
    all-pairs L2 is ONE numpy GEMM per bucket inside an Arrow-batched
    ``applyInPandas`` — dense distance kernels are the case where a
    vectorized Pandas UDF beats per-row JVM expressions by ~10x
    (measured: 5.4s -> 0.7s at sf0.1 vs a zip_with/aggregate fold per
    pair; Spark ML's approxSimilarityJoin UDF is slower still). At
    100 TB the bucket width controls both recall and the GEMM tile
    size.

    ``max_bucket`` is the skew guard for hot buckets (near-duplicate
    floods, degenerate projections): buckets larger than the cap are
    split into T = ceil(size/cap) hash-tiles and the all-pairs work
    becomes one (tile_i, tile_j) group per unordered tile pair — a
    T-way replication that turns one monster GEMM on one task into
    T(T+1)/2 bounded GEMMs across the cluster. Total flops are
    unchanged (all-pairs within a bucket is inherently quadratic); what
    the cap bounds is PER-TASK memory and latency, which is what kills
    a 100 TB run. Results are identical to the untiled path (pinned in
    tests); ``None`` skips the bucket-size pass entirely.

    ``dim`` (vector dimensionality) should be passed by the caller so
    plan construction stays purely declarative; when omitted, it is
    probed from the first corpus row (one tiny driver job, and an error
    on an empty corpus)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if dim is None:
        head = corpus.select(vec_col).first()
        if head is None:
            raise ValueError("empty corpus: pass dim= explicitly")
        dim = len(head[0])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(num_hash_tables, dim))

    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    buckets = [
        F.floor(
            dot("v", "array({})".format(",".join(f"{float(x)!r}D" for x in planes[t])))
            / F.lit(float(bucket_length))
        ).alias(f"b{t}")
        for t in range(num_hash_tables)
    ]
    bands = (
        c.select("id", "v", *buckets)
        .select(
            "id",
            "v",
            F.explode(
                F.array(
                    *(
                        F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                        for t in range(num_hash_tables)
                    )
                )
            ).alias("band"),
        )
        .select("id", "v", F.col("band.t").alias("t"), F.col("band.b").alias("b"))
    )

    max_d = float(max_l2_dist)

    _empty = {"id_1": "int64", "id_2": "int64", "l2_dist": "float64"}

    def _emit(ids_a, m_a, ids_b, m_b, exclude_self: bool) -> pd.DataFrame:
        # L2 distances between every row of a and every row of b (one
        # GEMM); when a IS b, keep only the upper triangle
        d2 = (
            (m_a * m_a).sum(axis=1)[:, None]
            + (m_b * m_b).sum(axis=1)[None, :]
            - 2.0 * (m_a @ m_b.T)
        )
        if exclude_self:
            iu, ju = np.triu_indices(len(ids_a), 1)
        else:
            iu, ju = np.meshgrid(
                np.arange(len(ids_a)), np.arange(len(ids_b)), indexing="ij"
            )
            iu, ju = iu.reshape(-1), ju.reshape(-1)
        d = np.sqrt(np.maximum(d2[iu, ju], 0.0))
        keep = d <= max_d
        a, b = ids_a[iu[keep]], ids_b[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_1": lo, "id_2": hi, "l2_dist": d[keep]})

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({k: [] for k in _empty}).astype(_empty)
        m = np.stack(pdf["v"].to_numpy()).astype("float64")
        ids = pdf["id"].to_numpy()
        return _emit(ids, m, ids, m, exclude_self=True)

    def tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # group = one unordered (tile_i, tile_j) pair of one bucket
        if len(pdf) < 2:
            return pd.DataFrame({k: [] for k in _empty}).astype(_empty)
        i, j = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
        if i == j:
            return bucket_pairs(pdf)
        left = pdf[pdf["tile"] == i]
        right = pdf[pdf["tile"] == j]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({k: [] for k in _empty}).astype(_empty)
        return _emit(
            left["id"].to_numpy(),
            np.stack(left["v"].to_numpy()).astype("float64"),
            right["id"].to_numpy(),
            np.stack(right["v"].to_numpy()).astype("float64"),
            exclude_self=False,
        )

    if max_bucket is None:
        pairs = bands.groupBy("t", "b").applyInPandas(
            bucket_pairs, "id_1 long, id_2 long, l2_dist double"
        )
    else:
        sizes = bands.groupBy("t", "b").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(int(max_bucket))).alias("n_tiles")
        )
        tiled = (
            bands.join(F.broadcast(sizes), ["t", "b"])
            .withColumn(
                "tile", F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.col("n_tiles"))
            )
            # replicate each row into every unordered tile pair it joins:
            # {(min(tile, w), max(tile, w)) : w in [0, n_tiles)}
            .select(
                "t",
                "b",
                "id",
                "v",
                "tile",
                F.explode(
                    F.expr(
                        "transform(sequence(0, CAST(n_tiles AS INT) - 1), "
                        "w -> struct(least(tile, w) AS ti, greatest(tile, w) AS tj))"
                    )
                ).alias("tp"),
            )
            .select("t", "b", "id", "v", "tile", F.col("tp.ti").alias("ti"), F.col("tp.tj").alias("tj"))
        )
        pairs = tiled.groupBy("t", "b", "ti", "tj").applyInPandas(
            tile_pairs, "id_1 long, id_2 long, l2_dist double"
        )
    return pairs.dropDuplicates(["id_1", "id_2"]).select(
        "id_1", "id_2", F.round("l2_dist", 6).alias("l2_dist")
    )


def label_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label per-dimension mean — IVF coarse-centroid training.
    One shuffle on (label, dim); partial aggregation does the heavy
    lifting map-side."""
    return (
        corpus.select("label", F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("label", F.col("pos").alias("dim"))
        .agg(F.round(F.avg("col"), 5).alias("centroid"))
    )


def _train_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    seed: int = 42,
    max_iter: int = 20,
    train_sample: int = 20000,
):
    """Deterministic Lloyd's k-means over a bounded, id-ordered sample;
    returns the (n_cells x dim) centroid matrix as numpy."""
    import numpy as np  # noqa: PLC0415

    sample = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(train_sample)
        .collect()
    )
    m = np.stack([r["v"] for r in sample]).astype("float64")
    rng = np.random.RandomState(seed)
    cents = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(max_iter):
        d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = np.stack(
            [
                m[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
                for c in range(len(cents))
            ]
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def train_centroids_portable(
    corpus: DataFrame,
    n_cells: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 20000,
):
    """Engine-portable quantizer training — the value-oracle-able
    replacement for ``_train_centroids``. Every choice is
    SQL-replicable, so a DuckDB twin can unroll the identical training
    (queries/llm_ops._ivf_sql) and the IVF query graduates from
    rows-only to a hash-checked oracle row:

    - sample = the ``train_sample`` LOWEST-id vectors (ORDER BY id
      LIMIT n — deterministic, engine-portable; the RNG-seeded sample
      of ``_train_centroids`` is not), collected once — the same
      bounded-by-contract driver step, k-means quality saturates long
      before corpus size;
    - init = the ``n_cells`` lowest-id sample vectors, cid = rank in
      id order (the ``distributed_kmeans`` convention);
    - ``iters`` fixed Lloyd rounds (no convergence break — data-value
      -dependent stopping would have to be replicated bit-for-bit),
      assignment = argmin squared-L2 with ties to the lowest cid,
      update = member mean rounded HALF-UP to 6 decimals (matching
      F.round/DuckDB ROUND, np.round's half-even does not), empty
      clusters drop.

    Returns ``(cids, centroids)``: the surviving cluster ids (ascending)
    and the matching (len(cids) x dim) matrix.
    """
    import numpy as np  # noqa: PLC0415

    sample = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(train_sample)
        .collect()
    )
    if not sample:
        raise ValueError("empty corpus: cannot train a quantizer")
    m = np.stack([r["v"] for r in sample]).astype("float64")
    return _portable_lloyd(m, n_cells, iters)


def _portable_lloyd(m, n_cells: int, iters: int):
    """The engine-portable Lloyd loop shared by
    ``train_centroids_portable`` (IVF coarse quantizer) and
    ``train_pq_codebooks_portable`` (per-subspace PQ codebooks):
    lowest-row-order init, argmin squared-L2 with ties to the lowest
    cid, member-mean update rounded HALF-UP to 6 decimals (= F.round /
    DuckDB ROUND), empty clusters drop with surviving cids keeping
    their original labels. Returns ``(cids, centroids)``."""
    import numpy as np  # noqa: PLC0415

    def round_half_up_6(x: "np.ndarray") -> "np.ndarray":
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    cids = list(range(min(n_cells, len(m))))
    cents = m[: len(cids)].copy()
    for _ in range(iters):
        d2 = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ cents.T) + (
            cents * cents
        ).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)  # first minimum = lowest cid on ties
        new_cids, new_cents = [], []
        for j, c in enumerate(cids):
            members = m[assign == j]
            if len(members):
                new_cids.append(c)
                new_cents.append(round_half_up_6(members.mean(axis=0)))
        cids = new_cids
        cents = np.stack(new_cents)
    return np.asarray(cids, dtype="int64"), cents


def train_pq_codebooks_portable(
    corpus: DataFrame,
    m_sub: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 20000,
):
    """Product-quantization codebook training, engine-portable so the
    whole PQ pipeline (``pq_topk``) sits under the value-level DuckDB
    oracle: the vector space splits into ``m_sub`` contiguous equal
    subspaces and each trains an independent ``n_codes``-codeword
    quantizer with the SAME portable Lloyd loop the IVF oracle already
    replicates (``_portable_lloyd``: lowest-id init, lowest-cid ties,
    6dp half-up centroid rounding, fixed ``iters``).

    The sample is collected ONCE (bounded by contract: the
    ``train_sample`` lowest-id vectors — codebook quality saturates far
    below corpus size) and sliced per subspace driver-side; training
    cost never touches the full corpus. Returns a list of
    ``(cids, centroids)`` pairs, one per subspace in order.
    """
    import numpy as np  # noqa: PLC0415

    sample = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(train_sample)
        .collect()
    )
    if not sample:
        raise ValueError("empty corpus: cannot train PQ codebooks")
    m = np.stack([r["v"] for r in sample]).astype("float64")
    dim = m.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible into {m_sub} subspaces")
    sub = dim // m_sub
    return [
        _portable_lloyd(m[:, j * sub : (j + 1) * sub], n_codes, iters)
        for j in range(m_sub)
    ]


def _ldp_fold(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """Sequential index-order dot product over two (R, d) float64
    matrices, vectorized across rows: ``acc = ((0.0 + a0*b0) + a1*b1)
    + ...`` — per element, the EXACT operation order of the scalar
    fold DuckDB's ``list_dot_product`` and Spark's
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0D, (acc,v) -> acc+v)``
    perform, so the result is bit-identical to both (IEEE 754 float64
    ops are deterministic given the order; numpy's elementwise +/* are
    plain IEEE ops). Pinned against the JVM expression in
    tests/test_llm_ops.py::test_pq_adc_numpy_fold_matches_jvm."""
    import numpy as np  # noqa: PLC0415

    acc = np.zeros(a.shape[0], dtype="float64")
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    codebooks=None,
    m_sub: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    n_cand: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_rows: list | None = None,
    max_q: int = 4096,
    train_sample: int = 20000,
) -> DataFrame:
    """Product-quantization ANN: encode every corpus vector as ``m_sub``
    small codes (one per subspace, 1 byte each at n_codes<=256 — a
    64-dim f32 vector compresses 256 B -> 4 B), scan the CODES with a
    per-query ADC (asymmetric distance computation) lookup table to
    pick ``n_cand`` candidates, then exact-cosine rescore only those.
    This is the classic Jegou et al. 2011 serving shape and the memory-
    bound complement to IVF's compute cut: at 100 TB the ADC scan reads
    the 4-byte code column instead of the 256-byte vector column — a
    ~60x scan-bandwidth cut — and the full vectors are touched only for
    |Q| x n_cand candidate rows.

    Scale/exactness split, mirroring ``brute_topk``:

    - the Arrow ``mapInPandas`` pass encodes each corpus batch against
      the broadcast codebooks (one GEMM per subspace), folds the ADC
      scores through the per-query numpy LUT, and emits only each
      query's per-batch top-(n_cand+8) candidate ids — the margin
      absorbs the LUT's float-associativity noise at the candidate
      boundary;
    - the same pass then recomputes each SELECTED candidate's ADC score
      with the exact term order the DuckDB oracle uses (per-subspace
      ``(ldp(s,s) - 2.0*ldp(s,c)) + ldp(c,c)`` as sequential
      ``_ldp_fold`` dots, left-associative sum over subspaces) and
      emits it as the ``adc`` column, so the kept candidate set is
      engine-reproducible bit-for-bit (round 11: this score previously
      re-derived in the JVM from ~4,600-literal codebook maps — the
      authoring/analysis of that tree was the row's dominant cost);
    - the final top-``k`` is an exact JVM cosine over the candidates'
      full vectors (carried through the Arrow pass — no corpus
      join-back), ties to the lowest candidate id.

    The query side is bounded by the same ``max_q`` broadcast contract
    as ``brute_topk`` (fixed-size by construction, loud failure
    otherwise). Recall vs brute force is gated in tests; the VALUE
    oracle (queries/llm_ops._pq_sql) unrolls training + encoding + ADC
    + rescore choice-for-choice.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    if codebooks is None:
        codebooks = train_pq_codebooks_portable(
            corpus, m_sub, n_codes, iters, id_col, vec_col, train_sample
        )
    m_sub = len(codebooks)
    cents = [np.asarray(c, dtype="float64") for _, c in codebooks]
    sub = cents[0].shape[1]

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    if q_rows is None:
        q_rows = q.limit(max_q + 1).collect()
    if len(q_rows) > max_q:
        raise ValueError(
            f"pq_topk query set has {len(q_rows)} rows, over the "
            f"max_q={max_q} broadcast bound — pass a fixed-size query "
            "frame (LIMIT by construction) or chunk and union"
        )
    q_ids = np.array([r["q_id"] for r in q_rows], dtype="int64")
    q_mat = np.stack([np.asarray(r["q_vec"], dtype="float64") for r in q_rows])
    # per-subspace ADC lookup tables: |Q| x n_codes squared-L2 partials
    # (GEMM/pairwise-sum — fast, order-free: used ONLY for candidate
    # PREselection, where the +8 margin absorbs associativity noise)
    luts = []
    q_subs = []
    for j in range(m_sub):
        qs = q_mat[:, j * sub : (j + 1) * sub]
        q_subs.append(qs)
        luts.append(
            (qs * qs).sum(axis=1)[:, None]
            - 2.0 * (qs @ cents[j].T)
            + (cents[j] * cents[j]).sum(axis=1)[None, :]
        )
    # exact-fold partials for the re-rank score (see adc_scan): per
    # (query, subspace) ldp(s,s) and per (subspace, codeword) ldp(c,c),
    # both sequential index-order folds (_ldp_fold)
    ss_q = np.stack([_ldp_fold(qs, qs) for qs in q_subs], axis=1)
    cc_fold = [_ldp_fold(c, c) for c in cents]
    n_take = n_cand + 8

    def adc_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["c_vec"].to_numpy()
            m = np.stack(vecs).astype("float64")
            ids = pdf["c_id"].to_numpy()
            adc = np.zeros((len(q_ids), len(ids)))
            pos_cols = []
            for j in range(m_sub):
                ms = m[:, j * sub : (j + 1) * sub]
                d2 = (
                    (ms * ms).sum(axis=1)[:, None]
                    - 2.0 * (ms @ cents[j].T)
                    + (cents[j] * cents[j]).sum(axis=1)[None, :]
                )
                pos = d2.argmin(axis=1)  # first min = lowest cid on ties
                pos_cols.append(pos)
                adc += luts[j][:, pos]
            adc[q_ids[:, None] == ids[None, :]] = np.inf  # self-matches
            take = min(n_take, adc.shape[1])
            top = np.argpartition(adc, take - 1, axis=1)[:, :take].reshape(-1)
            # Exact re-rank score for the SELECTED candidates, computed
            # here with the oracle's own operation order — per subspace
            # ``(ldp(s,s) - 2.0*ldp(s,c)) + ldp(c,c)`` (sequential
            # _ldp_fold dots), summed left-associatively across
            # subspaces — so the value is bit-identical to the former
            # JVM expression AND to DuckDB's unrolled SQL. Round 11:
            # the JVM re-rank fetched codewords from an 8x64x8 literal
            # map (~4,600 plan literals; ~1.4 s of Py4J authoring +
            # Catalyst analysis per construction, plus a map probe per
            # candidate row at runtime); emitting the score from the
            # Arrow pass removes the literals from the plan entirely
            # and narrows the exchanged row (one double replaces m_sub
            # int codes).
            qi = np.repeat(np.arange(len(q_ids)), take)
            exact = None
            for j in range(m_sub):
                c_sel = cents[j][pos_cols[j][top]]
                sc = _ldp_fold(q_subs[j][qi], c_sel)
                term = (ss_q[qi, j] - 2.0 * sc) + cc_fold[j][pos_cols[j][top]]
                exact = term if exact is None else exact + term
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, take),
                    "c_id": ids[top],
                    "c_vec": [vecs[j] for j in top],
                    "adc": exact,
                }
            )

    schema = "q_id long, c_id long, c_vec array<float>, adc double"
    cand = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    ).mapInPandas(adc_scan, schema)

    # The exact ADC re-rank score arrives as the `adc` column from the
    # Arrow pass above (bit-identical to the oracle's term order by
    # construction — see adc_scan); the JVM side only ranks it. The
    # broadcast join attaches q_vec for the exact-cosine rescore.
    pairs = cand.join(F.broadcast(q), "q_id").filter(
        F.col("c_id") != F.col("q_id")
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id").asc())
    shortlist = pairs.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= n_cand
    )
    sim = F.expr(DOT.format(a="q_vec", b="c_vec")) / (
        F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
        * F.sqrt(F.expr(DOT.format(a="c_vec", b="c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        shortlist.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("sim", 6).alias("cosine_sim"))
    )


def kmeans_cells(
    corpus: DataFrame,
    n_cells: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    train_sample: int = 20000,
) -> DataFrame:
    """Train the IVF coarse quantizer: k-means over a bounded sample,
    assign the full corpus with one broadcast pass. Deterministic under
    the fixed seed.

    This is the canonical 100 TB IVF shape: the quantizer trains on a
    driver-side sample (k-means quality saturates long before corpus
    size — ``train_sample`` vectors suffice for a coarse k<=few-hundred
    quantizer), then the trained centroid matrix ships inside an Arrow
    ``mapInPandas`` closure and every corpus partition assigns its
    vectors with one numpy GEMM — no iterative cluster jobs at all.
    (Spark ML's ``KMeans.fit`` runs max_iter scheduled jobs over the
    corpus: measured ~4 s at sf0.1 versus ~0.1 s for the sample-trained
    fit, identical recall.)"""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    centroids = _train_centroids(
        corpus, n_cells, id_col, vec_col, seed, max_iter, train_sample
    )

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mm = np.stack(pdf["v"].to_numpy()).astype("float64")
            d2 = (
                (mm * mm).sum(axis=1)[:, None]
                - 2.0 * (mm @ centroids.T)
                + (centroids * centroids).sum(axis=1)[None, :]
            )
            yield pd.DataFrame({"id": pdf["id"], "cell": d2.argmin(axis=1)})

    return (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .mapInPandas(assign_cells, "id long, cell int")
        .select(F.col("id").alias(id_col), "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    n_cells: int = 10,
    centroids=None,
    max_q: int = 4096,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize into cells, probe only the
    ``n_probe`` nearest cells per query, exact cosine inside them.

    ``label_col=None`` (default) trains the sample-based k-means
    quantizer (see ``kmeans_cells``) and runs the fused plan: ONE
    Arrow map over the corpus assigns cells (vector carried through, no
    join-back), ONE Arrow map over the queries emits its n_probe probe
    cells, and the only shuffle-bearing op left is the (broadcast)
    probe equi-join + per-query top-k. Pass an existing column to use
    pre-assigned cells instead (centroids then come from
    ``label_centroids``). Data labels in the fixtures carry almost no
    spatial structure (~12% of true neighbors share the query's label),
    so a trained quantizer is what makes the probe meaningful. At
    100 TB the win is the candidate cut: each query scans
    n_probe/n_cells of the corpus, and the probe join is an equi-join
    on the cell id rather than a cross join. Approximate -> rows-only
    + recall-vs-brute test, like the LSH family.

    ``centroids`` lets a repeat caller reuse a previously trained
    quantizer instead of re-running the training per invocation — the
    trained matrix IS the index artifact a deployment persists; the
    caller owns invalidation against the corpus snapshot. Accepts
    either a bare ``n_cells x dim`` matrix (cell ids = row index, the
    ``_train_centroids`` legacy) or the ``(cids, matrix)`` pair
    ``train_centroids_portable`` returns (cell ids survive cluster
    drop-out, and the oracle twin reproduces them).

    Probe ranking is squared-L2 to the centroid (ties to the lowest
    cell id) — the same metric, float path, and tie-break as the cell
    assignment itself and as ``distributed_kmeans``'s oracle-proven
    assignment step, so the DuckDB twin replays it with the identical
    ROW_NUMBER ordering.
    """
    if label_col is None:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from collections.abc import Iterator  # noqa: PLC0415

        if centroids is None:
            centroids = train_centroids_portable(corpus, n_cells, 3, id_col, vec_col)
        if isinstance(centroids, tuple):
            cid_arr, cents = centroids
            cid_arr = np.asarray(cid_arr, dtype="int64")
        else:
            cents = centroids
            cid_arr = np.arange(len(cents), dtype="int64")
        c_sq = (cents * cents).sum(axis=1)

        # The query side is bounded by contract (brute_topk's broadcast
        # rule), so probe ranking runs at the DRIVER on the collected
        # matrix — numerically identical to the old distributed probe
        # map (same float64 d2, same stable argsort with lowest-cid
        # ties), it just removes one Arrow pass.
        q = queries.limit(max_q + 1).select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
        q_rows = q.collect()
        if len(q_rows) > max_q:
            raise ValueError(
                f"ivf_topk query set has {len(q_rows)} rows, over the "
                f"max_q={max_q} broadcast bound — pass a fixed-size query "
                "frame (LIMIT by construction) or chunk and union"
            )
        if not q_rows:
            return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA)
        q_ids = np.array([r["q_id"] for r in q_rows], dtype="int64")
        q_raw = np.stack([np.asarray(r["q_vec"], dtype="float64") for r in q_rows])
        d2q = (
            (q_raw * q_raw).sum(axis=1)[:, None]
            - 2.0 * (q_raw @ cents.T)
            + c_sq[None, :]
        )
        n_take = min(n_probe, len(cents))
        # stable sort on d2: ties resolve to the lowest cid
        probe_of_q = cid_arr[np.argsort(d2q, axis=1, kind="stable")[:, :n_take]]
        cell_to_qidx: dict[int, "np.ndarray"] = {}
        for qi in range(len(q_ids)):
            for cell in probe_of_q[qi]:
                cell_to_qidx.setdefault(int(cell), []).append(qi)
        cell_to_qidx = {
            cell: np.asarray(idx, dtype="int64")
            for cell, idx in cell_to_qidx.items()
        }
        q_norm = q_raw / np.linalg.norm(q_raw, axis=1, keepdims=True)
        n_cand = k + 5  # same prune margin as brute_topk

        def assign_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # ONE fused Arrow pass: coarse-assign the batch (argmin keeps
            # the FIRST minimum; columns are in ascending-cid order, so
            # ties go to the lowest cid), then GEMM-score each present
            # cell against only the queries probing it, emitting
            # per-(query, batch, cell) top-(k+margin) candidates with the
            # vector carried through — no corpus join-back. The FINAL
            # ranking recomputes through the identical JVM fold below, so
            # the GEMM only PRUNES (brute_topk's dense-kernel design);
            # output is bit-identical to the old exact join, which scored
            # every probed-cell member with a per-pair JVM fold (~10x
            # slower; 27.6 -> ~4 s at 200k vectors / 100 cells).
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = pdf["c_vec"].to_numpy()
                mm = np.stack(vecs).astype("float64")
                d2 = (
                    (mm * mm).sum(axis=1)[:, None]
                    - 2.0 * (mm @ cents.T)
                    + c_sq[None, :]
                )
                cells = cid_arr[d2.argmin(axis=1)]
                ids = pdf["c_id"].to_numpy()
                mn = mm / np.linalg.norm(mm, axis=1, keepdims=True)
                # per-cell GEMM + prune, then a per-QUERY merge across
                # the batch's cells before emitting: without the merge a
                # query probing p cells emits p x (k+margin) rows per
                # batch — p times brute_topk's candidate volume — and
                # the JVM re-score of that inflated frame erases the
                # probe cut's GEMM savings (measured 27.0 vs 26.9 s
                # brute at 4096 queries; merged ~= brute's volume).
                cq, cs, ci = [], [], []
                for cell in np.unique(cells):
                    qidx = cell_to_qidx.get(int(cell))
                    if qidx is None:
                        continue
                    sel = np.where(cells == cell)[0]
                    # ascending-id columns: _prune_top_cols precondition
                    sel = sel[np.argsort(ids[sel])]
                    sims = q_norm[qidx] @ mn[sel].T
                    sims[q_ids[qidx][:, None] == ids[sel][None, :]] = -np.inf
                    take = min(n_cand, sims.shape[1])
                    top = _prune_top_cols(sims, take)
                    cq.append(np.repeat(qidx, take))
                    cs.append(np.take_along_axis(sims, top, axis=1).reshape(-1))
                    ci.append(sel[top.reshape(-1)])
                if not cq:
                    continue
                merged = pd.DataFrame(
                    {
                        "q": np.concatenate(cq),
                        "sim": np.concatenate(cs),
                        "i": np.concatenate(ci),
                    }
                )
                # cid in the sort key: (q, sim, cid) is unique (one cell
                # per id), so boundary ties cut to the lowest c_id — the
                # final window's exact tie rule (ADVICE r7)
                merged["cid"] = ids[merged["i"].to_numpy()]
                cut = (
                    merged.sort_values(
                        ["q", "sim", "cid"], ascending=[True, False, True]
                    )
                    .groupby("q", sort=False)
                    .head(n_cand)
                )
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[cut["q"].to_numpy()],
                        "c_id": ids[cut["i"].to_numpy()],
                        "c_vec": [vecs[j] for j in cut["i"].to_numpy()],
                    }
                )

        cand = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ).mapInPandas(assign_score, "q_id long, c_id long, c_vec array<float>")
        pairs = cand.join(F.broadcast(q), "q_id").filter(
            F.col("c_id") != F.col("q_id")
        )
        sim = F.expr(DOT.format(a="q_vec", b="c_vec")) / (
            F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
            * F.sqrt(F.expr(DOT.format(a="c_vec", b="c_vec")))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("sim").desc(), F.col("c_id").asc()
        )
        return (
            pairs.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "c_id", F.round("sim", 6).alias("cosine_sim"))
        )
    else:
        cents = label_centroids(corpus, id_col, vec_col).groupBy("label").agg(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("pairs")
        ).select(
            "label", F.expr("transform(pairs, p -> p.centroid)").alias("centroid")
        )
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        )
        # rank clusters per query by centroid cosine, keep n_probe
        csim = F.expr(DOT.format(a="q_vec", b="centroid")) / (
            F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
            * F.sqrt(F.expr(DOT.format(a="centroid", b="centroid")))
        )
        wq = Window.partitionBy("q_id").orderBy(
            F.col("csim").desc(), F.col("label").asc()
        )
        probes = (
            q.crossJoin(F.broadcast(cents))
            .withColumn("csim", csim)
            .withColumn("crank", F.row_number().over(wq))
            .filter(F.col("crank") <= n_probe)
            .select("q_id", "q_vec", "label")
        )
        c = corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            F.col(label_col).alias("label"),
        )
        join_key = "label"
    sim = F.expr(DOT.format(a="q_vec", b="c_vec")) / (
        F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
        * F.sqrt(F.expr(DOT.format(a="c_vec", b="c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        c.join(F.broadcast(probes), join_key)
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("sim", 6).alias("cosine_sim"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    train_sample: int = 20000,
):
    """Persist the IVF index a DEPLOYMENT serves from: the corpus
    cell-partitioned on disk (``write.partitionBy("cell")`` — one
    directory per coarse cell) plus the trained quantizer as a sidecar
    at ``path + "_centroids"``. ``ivf_topk`` re-trains and re-assigns
    per CALL, which is the right shape for a one-shot audit query; a
    serving loop at 100 TB builds the index once and then each query
    batch reads ONLY its probed cells via partition pruning — the scan
    itself shrinks to ~n_probe/n_cells of the data, which no amount of
    in-plan pruning achieves on an unpartitioned layout.

    Assignment is the same float64 argmin / lowest-cid tie rule as
    ``ivf_topk`` and ``distributed_kmeans``, so an index built from the
    same quantizer serves bit-identical results (pinned by
    tests/test_llm_ops.py). Returns the ``(cids, matrix)`` quantizer.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    if centroids is None:
        centroids = train_centroids_portable(
            corpus, n_cells, iters, id_col, vec_col, train_sample=train_sample
        )
    if isinstance(centroids, tuple):
        cid_arr, cents = centroids
        cid_arr = np.asarray(cid_arr, dtype="int64")
    else:
        cents = centroids
        cid_arr = np.arange(len(cents), dtype="int64")
    c_sq = (cents * cents).sum(axis=1)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mm = np.stack(pdf["c_vec"].to_numpy()).astype("float64")
            d2 = (
                (mm * mm).sum(axis=1)[:, None]
                - 2.0 * (mm @ cents.T)
                + c_sq[None, :]
            )
            out = pdf.copy()
            out["cell"] = cid_arr[d2.argmin(axis=1)].astype("int32")
            yield out

    (
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
        .mapInPandas(assign, "c_id long, c_vec array<float>, cell int")
        # compact: co-locate each cell into one task before the
        # partitioned write, else every upstream partition emits a
        # fragment per cell it touches (32 tasks x 10 cells = 320 tiny
        # files at fixture scale; listing cost dominated the pruned
        # serve — 3.8 -> 0.8 s). One file per cell is right up to the
        # cluster's block size; beyond it, raise the partition count so
        # each cell splits into block-sized files.
        .repartition(len(cid_arr), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    spark = corpus.sparkSession
    side = [
        (int(cid_arr[i]), [float(x) for x in cents[i]]) for i in range(len(cents))
    ]
    spark.createDataFrame(side, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path + "_centroids")
    return (cid_arr, cents)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_q: int = 4096,
) -> DataFrame:
    """Serve ANN top-k from a ``build_ivf_index`` layout. The probed
    cells are ranked at the driver from the sidecar quantizer (same
    float64 squared-L2 + stable lowest-cid ties as ``ivf_topk``), then
    the corpus scan is FILTERED to those cells — Spark prunes the
    non-probed cell directories out of the file listing
    (PartitionFilters in the scan, pinned by tests/test_plans.py), so
    I/O is proportional to the probe fraction, not the corpus. Scoring
    is the same per-cell GEMM prune + per-query merge + exact JVM
    re-score as ``ivf_topk`` — output is row-identical to running
    ``ivf_topk`` with the same quantizer (pinned)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    side = spark.read.parquet(path + "_centroids").orderBy("cell").collect()
    cid_arr = np.array([r["cell"] for r in side], dtype="int64")
    cents = np.stack([np.asarray(r["centroid"], dtype="float64") for r in side])
    c_sq = (cents * cents).sum(axis=1)

    q = queries.limit(max_q + 1).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_rows = q.collect()
    if len(q_rows) > max_q:
        raise ValueError(
            f"ivf_topk_indexed query set has {len(q_rows)} rows, over the "
            f"max_q={max_q} broadcast bound"
        )
    if not q_rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q_ids = np.array([r["q_id"] for r in q_rows], dtype="int64")
    q_raw = np.stack([np.asarray(r["q_vec"], dtype="float64") for r in q_rows])
    d2q = (
        (q_raw * q_raw).sum(axis=1)[:, None]
        - 2.0 * (q_raw @ cents.T)
        + c_sq[None, :]
    )
    n_take = min(n_probe, len(cents))
    probe_of_q = cid_arr[np.argsort(d2q, axis=1, kind="stable")[:, :n_take]]
    cell_to_qidx: dict[int, "np.ndarray"] = {}
    for qi in range(len(q_ids)):
        for cell in probe_of_q[qi]:
            cell_to_qidx.setdefault(int(cell), []).append(qi)
    cell_to_qidx = {
        cell: np.asarray(idx, dtype="int64") for cell, idx in cell_to_qidx.items()
    }
    probed_cells = sorted(cell_to_qidx)
    q_norm = q_raw / np.linalg.norm(q_raw, axis=1, keepdims=True)
    n_cand = k + 5  # brute_topk's prune margin

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["c_vec"].to_numpy()
            mm = np.stack(vecs).astype("float64")
            mn = mm / np.linalg.norm(mm, axis=1, keepdims=True)
            ids = pdf["c_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            cq, cs, ci = [], [], []
            for cell in np.unique(cells):
                qidx = cell_to_qidx.get(int(cell))
                if qidx is None:
                    continue
                sel = np.where(cells == cell)[0]
                # ascending-id columns: _prune_top_cols precondition
                sel = sel[np.argsort(ids[sel])]
                sims = q_norm[qidx] @ mn[sel].T
                sims[q_ids[qidx][:, None] == ids[sel][None, :]] = -np.inf
                take = min(n_cand, sims.shape[1])
                top = _prune_top_cols(sims, take)
                cq.append(np.repeat(qidx, take))
                cs.append(np.take_along_axis(sims, top, axis=1).reshape(-1))
                ci.append(sel[top.reshape(-1)])
            if not cq:
                continue
            merged = pd.DataFrame(
                {"q": np.concatenate(cq), "sim": np.concatenate(cs),
                 "i": np.concatenate(ci)}
            )
            # lowest-c_id boundary-tie cut, same rule as the final
            # window (ADVICE r7); (q, sim, cid) is a unique key
            merged["cid"] = ids[merged["i"].to_numpy()]
            cut = (
                merged.sort_values(
                    ["q", "sim", "cid"], ascending=[True, False, True]
                )
                .groupby("q", sort=False)
                .head(n_cand)
            )
            yield pd.DataFrame(
                {
                    "q_id": q_ids[cut["q"].to_numpy()],
                    "c_id": ids[cut["i"].to_numpy()],
                    "c_vec": [vecs[j] for j in cut["i"].to_numpy()],
                }
            )

    corpus = spark.read.parquet(path).filter(
        F.col("cell").isin([int(c) for c in probed_cells])
    )
    cand = corpus.mapInPandas(score, "q_id long, c_id long, c_vec array<float>")
    pairs = cand.join(F.broadcast(q), "q_id").filter(F.col("c_id") != F.col("q_id"))
    sim = F.expr(DOT.format(a="q_vec", b="c_vec")) / (
        F.sqrt(F.expr(DOT.format(a="q_vec", b="q_vec")))
        * F.sqrt(F.expr(DOT.format(a="c_vec", b="c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("sim", 6).alias("cosine_sim"))
    )


def distributed_kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist_vectors: bool | None = None,
    top_p: int = 1,
) -> DataFrame:
    """Fully-distributed Lloyd's k-means: every iteration is a corpus-wide
    Spark job (unlike ``kmeans_cells``, whose quantizer trains on a
    driver-side sample). Returns the final (id, cluster) assignment.

    ``top_p > 1`` turns the FINAL assignment into multi-probe blocking:
    each vector is emitted once per each of its ``top_p`` nearest
    centroids (one (id, cluster) row each; the Lloyd updates themselves
    stay argmin). This is the standard recall lever for
    blocking-restricted similarity joins — a borderline pair whose
    members straddle two adjacent cells still shares a block — at a
    bounded ``top_p``x replication cost. Ordering ties break to the
    lowest cid (stable argsort), matching the oracle's
    ``ROW_NUMBER() ... ORDER BY dist, cid <= p``.

    Deterministic and engine-portable by construction, so the whole
    iterative algorithm sits under the value-level DuckDB oracle (the
    oracle unrolls the same ``iters`` iterations as chained CTEs):

    - init = the ``k`` lowest-id vectors (cid = rank in id order);
    - assignment = argmin over squared L2 computed as
      |v|^2 - 2 v.c + |c|^2 in float64, ties to the lowest cid;
    - update = per-(cluster, dim) mean, ROUNDED to 6 decimals in-plan
      (``F.round`` and DuckDB ``ROUND`` agree half-up on doubles), so
      both engines iterate from bit-identical centroid matrices and the
      only residual float risk is a near-equidistant assignment tie.

    The 100 TB shape: per iteration, ONE embarrassingly-parallel Arrow
    GEMM pass assigns every partition's vectors against the broadcast
    k x dim matrix (shipped in the mapInPandas closure), then ONE
    partial-aggregated shuffle of (cluster, dim) cells — k*dim groups
    regardless of corpus size — and a bounded k*dim driver collect.
    Empty clusters drop out (both engines aggregate only over members).

    ``persist_vectors`` controls whether the projected (id, v) frame is
    cached (MEMORY_AND_DISK) across the update rounds instead of
    re-scanning the source each iteration. Default (None) auto-persists
    when there are >= 4 update rounds — below that the cache write
    costs about what it saves (A/B at sf1 in BASELINE.md round-5). The
    cache is released before the final assignment pass, which re-reads
    the source once either way, so the operator never leaks cached
    blocks into a long-lived session.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    do_persist = (iters - 1) >= 4 if persist_vectors is None else persist_vectors
    if do_persist:
        from pyspark import StorageLevel  # noqa: PLC0415

        vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    init = vecs.orderBy("id").limit(k).collect()  # bounded: k rows
    if not init:  # empty corpus: empty assignment, same schema
        return vecs.select(
            "id", F.lit(0).cast("int").alias("cluster")
        ).filter(F.lit(False))
    cids = list(range(len(init)))
    cents = np.stack([r["v"] for r in init]).astype("float64")

    def assigned(cids: list[int], cents: "np.ndarray", p: int = 1) -> DataFrame:
        cc = cents.copy()
        cid_arr = np.asarray(cids, dtype="int64")
        c_sq = (cc * cc).sum(axis=1)
        take = min(p, len(cid_arr))

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf["v"].to_numpy()).astype("float64")
                d2 = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ cc.T) + c_sq[None, :]
                # argmin/stable argsort keep the FIRST minimum: columns
                # are in ascending-cid order, matching the oracle's
                # ORDER BY dist, cid tie-break.
                if take == 1:
                    yield pd.DataFrame(
                        {
                            "id": pdf["id"],
                            "cluster": cid_arr[d2.argmin(axis=1)].astype("int32"),
                            "v": pdf["v"],
                        }
                    )
                else:
                    near = np.argsort(d2, axis=1, kind="stable")[:, :take]
                    vs = pdf["v"].to_numpy()
                    yield pd.DataFrame(
                        {
                            "id": np.repeat(pdf["id"].to_numpy(), take),
                            "cluster": cid_arr[near.reshape(-1)].astype("int32"),
                            "v": [
                                vs[i] for i in np.repeat(np.arange(len(vs)), take)
                            ],
                        }
                    )

        return vecs.mapInPandas(assign, "id long, cluster int, v array<double>")

    for _ in range(iters - 1):
        cells = (
            assigned(cids, cents)
            .select("cluster", F.posexplode("v"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("col"), 6).alias("m"))
            .collect()  # bounded: k * dim cells
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cid.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        cids = sorted(by_cid)
        cents = np.stack(
            [
                np.array([by_cid[c][p] for p in sorted(by_cid[c])], dtype="float64")
                for c in cids
            ]
        )
    if do_persist:
        # the update rounds are done; the final assignment recomputes
        # from source (same cost as the unpersisted path's last pass)
        # rather than pinning cache blocks past the operator's lifetime
        vecs = vecs.unpersist()
    return assigned(cids, cents, p=top_p).select("id", "cluster")


def pca_power_scores(
    corpus: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PCA (top principal component) via power iteration:
    per-document projection scores onto the corpus's dominant direction —
    the embedding-whitening / outlier-surfacing primitive of curation
    pipelines (and the 1-D special case of the PCA every
    SemDeDup-style method runs before clustering).

    The 100 TB shape: the corpus is touched exactly TWICE —
      1. ONE Arrow kernel pass computes per-batch partial moments
         (count, per-dim sums, X^T X), emitted as (i, j, val) cells and
         partially aggregated: the shuffle carries #batches * (dim^2 +
         dim + 1) rows — bounded by task count, never by corpus size —
         and the driver collect is dim^2 + dim + 1 cells (the model
         artifact, documented bounded collect);
      2. the returned plan scores every row against the dim+1 literal
         constants (principal direction + centering offset) in a pure
         JVM fold — no Python, no broadcast, no Exchange.
    Power iteration itself runs on the collected dim x dim covariance —
    driver-side numpy on a bounded artifact, the bm25-stats/IVF-quantizer
    convention.

    Engine-portable by construction (the kmeans/logreg technique): the
    covariance is ROUNDED to 6 decimals (half away from zero, DuckDB
    ROUND semantics), v0 = round6(1/sqrt(dim)) uniform, and each
    iterate is round6(Cv / |Cv|) — so the DuckDB twin
    (queries/llm_ops.py:_pca_sql) reproduces the identical iteration
    from its unrolled CTEs and the per-document scores are value-equal.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from collections.abc import Iterator  # noqa: PLC0415

    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype("float64")
            dim = m.shape[1]
            mm = m.T @ m
            ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(dim), [-1]]),
                    "j": np.concatenate([jj.ravel(), np.full(dim, -1), [-1]]),
                    "val": np.concatenate(
                        [mm.ravel(), m.sum(axis=0), [float(len(m))]]
                    ),
                }
            )

    cells = (
        vecs.mapInPandas(moments, "i int, j int, val double")
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
        .collect()  # bounded: dim^2 + dim + 1 cells (model artifact)
    )
    if not cells:  # empty corpus: empty scores, stable schema
        return vecs.select("id", F.lit(0.0).alias("pc1")).filter(F.lit(False))
    by_key = {(r["i"], r["j"]): r["val"] for r in cells}
    n = by_key[(-1, -1)]
    dim = max(i for i, _ in by_key) + 1
    s = np.array([by_key[(i, -1)] for i in range(dim)])
    m2 = np.array([[by_key[(i, j)] for j in range(dim)] for i in range(dim)])

    def round6(x: "np.ndarray") -> "np.ndarray":
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    cov = round6(m2 / n - np.outer(s / n, s / n))
    mu = round6(s / n)
    v = np.full(dim, float(round6(np.asarray(1.0 / np.sqrt(dim)))))
    for _ in range(iters):
        w = cov @ v
        nrm = float(np.sqrt((w * w).sum()))
        if nrm == 0.0:
            raise ValueError(
                "zero covariance: power iteration undefined (constant corpus)"
            )
        v = round6(w / nrm)
    offset = float((v * mu).sum())

    # scoring: sequential index-order fold, matching the oracle's
    # list_dot_product evaluation; direction + offset are plan literals
    lit_v = F.array(*[F.lit(float(x)) for x in v])
    score = F.round(
        F.aggregate(
            F.zip_with("v", lit_v, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        - F.lit(offset),
        6,
    )
    return vecs.select("id", score.alias("pc1"))
