"""Text-analysis operators for training-data pipelines: tokenization,
language ID, quality scoring, fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs. Each operator is a narrow map over
the scan: embarrassingly parallel, no shuffle, so it scales linearly with
input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-language marker words for the n-gram/stopword language heuristic.
# Deliberately tiny and deterministic; real deployments swap in fastText &
# friends via the same operator shape (mapInPandas over batches).
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "et", "les", "est"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-space symbols — a cheap public approximation of byte-pair pretoken
# splitting (the \p{L} classes work in both Java regex and RE2).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalized(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def words(col: Column | str) -> Column:
    """Whitespace tokenization of the normalized text."""
    return F.split(normalized(col), r" ")


def token_count_ws(col: Column | str) -> Column:
    return F.size(words(col))


def token_count_bpe(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def marker_hits(col: Column | str, markers: list[str]) -> Column:
    """How many marker-word occurrences the text contains.

    regexp_count, NOT size(regexp_extract_all(...)): both count the
    same non-overlapping matches, but extract_all materializes every
    match into an in-row array just to take its length. On the
    fixtures the difference is noise (the regex scan dominates); the
    count form is still the right expression — no per-row allocation
    proportional to match count, which matters on marker-dense real
    corpora."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pattern))


def language_scores(col: Column | str) -> dict[str, Column]:
    return {lang: marker_hits(col, ms) for lang, ms in LANG_MARKERS.items()}


LANG_PRIORITY = ("en", "es", "fr", "de")


def language_id(col: Column | str) -> Column:
    """Argmax over marker-hit scores with a fixed priority tie-break
    (en > es > fr > de, then unknown when all scores are zero).

    Built as ONE fold over a (score, label) array so each marker regex
    appears exactly once in the expression tree. The naive CASE chain
    references every score column repeatedly (~16 regex scans per row
    at the last branch); a projection's whole-stage codegen dedups
    that via subexpression elimination, but FILTER predicates get no
    CSE — the curation pipeline's keep-filter paid ~7x the projection
    cost at sf1 (2.05 s vs 0.29 s for the same expression). The fold
    binds each score to a lambda variable, so it is single-evaluation
    in every context; first-max-wins iteration in priority order
    reproduces the CASE's >= tie-break exactly."""
    s = language_scores(col)
    pairs = F.zip_with(
        F.array(*[s[lang] for lang in LANG_PRIORITY]),
        F.array(*[F.lit(lang) for lang in LANG_PRIORITY]),
        lambda score, label: F.struct(score.alias("s"), label.alias("l")),
    )
    return F.aggregate(
        pairs,
        F.struct(
            F.lit(-1).alias("best"),
            F.lit("unknown").alias("lang"),
            F.lit(0).alias("total"),
        ),
        lambda acc, x: F.struct(
            F.greatest(x["s"], acc["best"]).alias("best"),
            F.when(x["s"] > acc["best"], x["l"]).otherwise(acc["lang"]).alias("lang"),
            (acc["total"] + x["s"]).alias("total"),
        ),
        lambda acc: F.when(acc["total"] == 0, "unknown").otherwise(acc["lang"]),
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword signals for quality filtering."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = token_count_ws(c)
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    stop_hits = marker_hits(c, STOPWORDS)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct.cast("double") / n_chars.cast("double"), 6),
        "stopword_ratio": F.round(stop_hits.cast("double") / n_tokens.cast("double"), 6),
        "avg_token_len": F.round(n_chars.cast("double") / n_tokens.cast("double"), 6),
    }


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: reward length (saturating at 100
    tokens) and stopword density, penalize punctuation soup.

    Same single-evaluation fold shape as ``language_id``: the four raw
    signals (chars, tokens, punct, stopword hits) are bound once into a
    struct and the score is computed from the bound values — the naive
    form re-evaluates the tokenizing split and both counting regexes
    per reference when the score lands in a filter predicate (no CSE
    outside projections). Value-identical: ratios round at 6dp before
    entering the weighted sum, exactly like ``quality_features``."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.struct(
        F.length(c).alias("nc"),
        token_count_ws(c).alias("nt"),
        F.regexp_count(c, F.lit(r"[^\w\s]")).alias("p"),
        marker_hits(c, STOPWORDS).alias("st"),
    )
    return F.aggregate(
        F.array(raw),
        F.lit(0.0),
        lambda _, x: (
            F.lit(0.4)
            * F.least(x["nt"].cast("double") / F.lit(100.0), F.lit(1.0))
            + F.lit(0.3)
            * (
                F.lit(1.0)
                - F.round(x["p"].cast("double") / x["nc"].cast("double"), 6)
            )
            + F.lit(0.3)
            * F.least(
                F.round(x["st"].cast("double") / x["nt"].cast("double"), 6) * 5,
                F.lit(1.0),
            )
        ),
        lambda acc: F.round(acc, 6),
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The exact-dedup key; md5 is identical across engines, so the oracle
    can reproduce it.)"""
    return F.md5(normalized(col).cast("binary"))


# PII redaction patterns, applied IN ORDER (URL first: a URL may embed
# an @ that the email pattern would otherwise split). Patterns restrict
# themselves to the regex subset where Java regex (Spark) and RE2
# (DuckDB) agree: character classes, bounded repetition, alternation —
# no lookaround (RE2 lacks it), no backreferences. DuckDB's
# regexp_replace needs the 'g' flag to match Spark's replace-all.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9][0-9 -]{6,}[0-9]", "<PHONE>"),
)


def scrub_pii(
    col: Column | str,
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> Column:
    """Redact PII-shaped spans (URLs, emails, IPv4s, intl phone numbers)
    with typed placeholders — the standard pre-training scrub pass.
    Chained regexp_replace: pure JVM codegen, one narrow projection, no
    shuffle at any scale."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(
    col: Column | str,
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> dict[str, Column]:
    """Per-class match counts (audit trail for the scrub pass). Counts
    overlap the way scrubbing does: classes are counted on the RAW text,
    so a URL containing an @ may count as both url and email even though
    scrub_pii's ordering redacts it once."""
    src = F.col(col) if isinstance(col, str) else col
    return {
        name: F.regexp_count(src, F.lit(pat)).cast("bigint")
        for name, pat, _ in patterns
    }


ROLLING_HASH_PRIME = 1125899906842597  # < 2^50: (acc*31 + h48) stays in int64


def rolling_fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token stream (Rabin-Karp shape). Token hashes are the first 48
    bits of md5 — portable, so the DuckDB oracle reproduces the value
    exactly; the modular Horner fold keeps every intermediate in int64
    under ANSI mode (acc < 2^50, acc*31 + h48 < 2^56).

    Unlike the md5 ``fingerprint`` (whole-text), the rolling form is the
    building block for chunk/window fingerprinting at corpus scale —
    a pure JVM array fold, no shuffle, no Python.
    """
    token_hash = lambda t: F.conv(  # noqa: E731 - 48-bit md5 prefix
        F.substring(F.md5(t.cast("binary")), 1, 12), 16, 10
    ).cast("bigint")
    return F.aggregate(
        F.transform(words(col), token_hash),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * F.lit(31) + x, F.lit(ROLLING_HASH_PRIME)),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pre-training/RAG preparation step (context-window packing
    operates on these chunks, not whole documents).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; the last chunk may be short, and a
    document shorter than ``chunk_size`` yields exactly one chunk. All
    arithmetic is JVM array ops over the in-row token array (sequence /
    slice / array_join): a narrow map with a bounded ~chunk_size/stride
    fan-out and no shuffle, so it scales linearly with input splits.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    stride = chunk_size - overlap
    toks = words(text_col)
    n = F.size(toks)
    # integer ceil((n - overlap) / stride), clamped to >= 1 chunk; values
    # are tiny so the double floor is exact
    n_chunks = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("bigint"),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id").cast("int") * stride + 1, chunk_size
    )
    return exploded.select(
        F.col(id_col),
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def vocabulary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
    ngram: int = 1,
) -> DataFrame:
    """Corpus vocabulary / heavy hitters: the ``k`` most frequent tokens
    with total occurrences (tf) and document frequency (df). The explode
    feeds ONE hash aggregation keyed by token (count is map-side partial;
    the distinct-doc count rides the same shuffle as a two-phase
    aggregate), and the top-k is a TakeOrdered over ``k`` rows per
    partition — no global sort. Tie-break on token keeps the cut
    deterministic across engines.

    ``ngram > 1`` counts word n-grams instead — the statistic n-gram
    language modeling collects. Unlike the dedup family's shingles,
    every OCCURRENCE counts (no per-doc distinct), and a doc shorter
    than ``ngram`` contributes nothing."""
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    if ngram == 1:
        # explode DIRECTLY over the split: the generator fuses with the
        # projection in codegen. Binding the array as an aliased column
        # first (the ngram>1 shape) materializes it through an extra
        # Generate input row — measured 3x slower at sf1 (0.66 s ->
        # 1.99 s, BASELINE.md round-5 A/B); there is no lambda here, so
        # the lambda-CSE hazard the binding exists for does not apply.
        tok = df.select(
            F.col(id_col).alias("_doc"), F.explode(words(text_col)).alias("token")
        )
    else:
        # bind the token array as a column FIRST: referencing the
        # words() split inside the n-gram lambda would re-run the regex
        # split per index (no CSE inside higher-order lambdas — see
        # repetition_stats)
        base = df.select(F.col(id_col).alias("_doc"), words(text_col).alias("__toks"))
        tok = base.select(
            "_doc",
            F.explode(consecutive_ngrams(F.col("__toks"), ngram)).alias("token"),
        )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("_doc").alias("df"),
    )
    return agg.orderBy(F.desc("tf"), F.asc("token")).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_per_doc: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf
    (idf = ln(N/df), the classic form). ``df`` is DERIVED from ``tf``
    (round 10): tf holds exactly one row per distinct (doc, token), so
    ``count(doc_id)`` per token IS the document frequency (``count``
    skips NULL ids exactly as the previous ``countDistinct`` over the
    raw token stream did). What that buys: the df branch's token-keyed
    exchange now carries per-partition PARTIAL COUNTS (<= |vocab| rows
    per map partition) instead of every distinct (token, doc) pair —
    the same map-side-reduction lever as guide §2.3 — and the df agg
    inherits tf's map-side pair collapse instead of re-deriving it.
    The tokenize itself still runs once per consumer (tf rides the
    fan-out doc partitioning with no exchange of its own — the pinned
    zero-doc_id-exchange property — so there is no shuffle boundary
    for ReusedExchange to share; checkpointing tf to force one pass
    would materialize a corpus-proportional frame, the exact trade
    BASELINE.md's video-near-dup entry measured 4-12x WORSE than
    recompute). The corpus size N is a 1-row aggregate over the base
    table combined via broadcast. The final per-doc top-k is a
    rank-1..k window (WindowGroupLimit prunes it to a per-partition
    top-k, no full sort)."""
    from pyspark.sql import Window  # noqa: PLC0415

    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("doc_id").alias("df"))
    # count docs from the base table, not the exploded token stream — a
    # third corpus scan + explode just to count rows is pure waste (every
    # doc yields >= 1 token, so the two counts are identical)
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_per_doc)
        .select("doc_id", "rank", "token", "tf", "tfidf")
    )


def curation_survivors(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Curation core shared by the batch query and the streaming twin:
    score (fingerprint / language / tokens / quality), filter
    (quality >= 0.5, known language), and reduce to the min-doc_id
    survivor per content fingerprint.

    The survivor step is a ``min(struct)`` aggregation — doc_id leads
    the struct, so the minimum IS the smallest doc_id and the result is
    arrival-order-independent. That one property makes the identical
    plan valid as a batch aggregation (partial agg map-side) AND as a
    streaming aggregation (state = one slim struct per distinct
    fingerprint, exactly the output table).

    The keep-predicate is folded INTO the aggregation (conditional
    ``min(when(keep, struct))``, null groups dropped post-agg) rather
    than a WHERE between scoring and aggregation. A filter node's
    text-derived predicate gets pushed below the fan-out repartition
    into the scan stage — correct at cluster scale (prune before the
    exchange), but it re-evaluates the scoring expressions there
    (filters get no subexpression elimination) and, on single-split
    local fixtures, serializes the whole regex pass onto one task
    (measured 3.5 s -> 0.9 s at sf1). The agg form evaluates every
    expression exactly once in the repartitioned projection at any
    scale. Cost: the shuffle and streaming state carry all distinct
    fingerprints, kept or not — slim structs, collapsed map-side, an
    acceptable trade for single-evaluation of the regex stack.
    """
    scored = df.select(
        "doc_id",
        fingerprint(text_col).alias("fingerprint"),
        language_id(text_col).alias("lang_pred"),
        token_count_ws(text_col).alias("n_tokens"),
        quality_score(text_col).alias("quality"),
    )
    keep = (F.col("quality") >= 0.5) & (F.col("lang_pred") != "unknown")
    return (
        scored.groupBy("fingerprint")
        .agg(
            F.min(
                F.when(keep, F.struct("doc_id", "lang_pred", "n_tokens", "quality"))
            ).alias("s")
        )
        .filter(F.col("s").isNotNull())
    )


def expand_curation_survivors(surv: DataFrame) -> DataFrame:
    """Unpack the survivor struct produced by ``curation_survivors``."""
    return surv.select(
        F.col("s.doc_id").alias("doc_id"),
        "fingerprint",
        F.col("s.lang_pred").alias("lang_pred"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.quality").alias("quality"),
    )


def consecutive_ngrams(tokens: Column, n: int) -> Column:
    """Every consecutive n-gram of ``tokens`` (ALL occurrences, joined
    with spaces); ``[]`` when the doc has fewer than ``n`` tokens. Index
    transform over ``sequence`` — ``sequence(1, 0)`` would count DOWN, so
    the short-doc case is guarded explicitly."""
    count = F.size(tokens) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def _max_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in an already
    sorted array — i.e. the count of the most frequent element. A single
    O(n) fold; with the O(n log n) ``array_sort`` this computes a per-row
    mode with NO shuffle and NO Python, unlike the explode + groupBy
    alternative that shuffles the whole token stream."""
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def _dup_frac(grams: Column) -> Column:
    """1 - distinct/total over an n-gram array (0.0 for empty arrays):
    the fraction of n-gram OCCURRENCES that are repeats."""
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.round(
            1.0 - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
            6,
        )
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_token_frac: float = 0.12,
    max_dup_bigram_frac: float = 0.05,
) -> DataFrame:
    """Gopher-style within-document repetition signals for pre-training
    curation (Rae et al. 2021, arXiv:2112.11446 Table A1): the fraction
    of tokens taken by the most frequent token and the duplicate n-gram
    fractions, plus the keep/drop verdict at the given thresholds.

    Everything is a narrow pure-codegen projection over the scan —
    ``array_sort`` + one fold for the per-doc mode, array ops for the
    n-gram distinct ratios — so the operator is embarrassingly parallel
    at 100 TB: no explode, no shuffle, no Python. (The explode + groupBy
    formulation the oracle uses would shuffle every token occurrence.)

    The arrays are bound in CHAINED projections, not one expression
    tree: subexpression elimination does not reach inside higher-order
    lambdas, so inlining ``words(text)`` into ``consecutive_ngrams``
    re-runs the regex split at every ``element_at`` reference — O(n^2)
    regex work per doc (measured 2.89 s -> 0.60 s at sf0.1 for this
    rewrite; BASELINE.md round-4 table). ``CollapseProject`` keeps the
    stages separate because merging would duplicate the non-cheap
    aliased arrays. NULL-text docs produce no row, matching the
    oracle's inner join over exploded tokens.
    """
    toks = F.col("__toks")
    top_frac = F.round(
        _max_run(F.array_sort(toks)).cast("double") / F.size(toks).cast("double"), 6
    )
    out = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), words(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            toks,
            consecutive_ngrams(toks, 2).alias("__bg"),
            consecutive_ngrams(toks, 3).alias("__tg"),
        )
        .select(
            F.col(id_col),
            F.size(toks).alias("n_tokens"),
            top_frac.alias("top_token_frac"),
            _dup_frac(F.col("__bg")).alias("dup_bigram_frac"),
            _dup_frac(F.col("__tg")).alias("dup_trigram_frac"),
        )
    )
    return out.withColumn(
        "keep",
        (
            (F.col("top_token_frac") <= max_top_token_frac)
            & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
        ).cast("int"),
    )


def bm25_corpus_stats(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The corpus-level BM25 constants (N, avgdl, per-term df) as one
    collected row: ONE partial-aggregated pass computing every df as
    ``sum(array_contains(...))`` — no explode, no token shuffle, a
    1-row collect bounded by |query|. A deployment maintains this as a
    persisted index-stats artifact; pass the row to ``bm25_topk`` to
    score many queries/batches without re-aggregating the corpus."""
    toks = words(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    return base.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("__toks")).alias("avgdl"),
        *[
            F.sum(F.array_contains("__toks", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(query_terms)
        ],
    ).collect()[0]


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats=None,
) -> DataFrame:
    """BM25 retrieval over the corpus for one (small, literal) query —
    the quality-match mining primitive (find training docs that look
    like a target benchmark/topic). Okapi BM25 (Robertson & Walker
    1994): score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))
    with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).

    Scale shape: the corpus constants come from ``bm25_corpus_stats``
    (one bounded partial-agg pass; pass a precomputed/persisted row via
    ``stats`` to skip it), then the scoring pass is a NARROW projection
    + TakeOrdered top-k. The whole score is ONE fold binding the token
    array to a lambda variable — an aliased-column binding is NOT
    enough here: CollapseProject merges the projection chain and
    re-inlines the split at every reference (11 copies measured, 2.6 s
    -> 0.5 s at sf1 for this fold form; same single-evaluation pattern
    as ``quality_score``). Nothing data-proportional ever shuffles."""
    if stats is None:
        stats = bm25_corpus_stats(docs, query_terms, id_col, text_col)
    if stats["n"] == 0 or stats["avgdl"] is None:
        # empty corpus, or every text NULL (avg/df aggregate to None
        # while count(*) doesn't): no stats, no hits
        return docs.select(
            F.col(id_col), F.lit(0.0).alias("bm25")
        ).filter(F.lit(False))
    n, avgdl = float(stats["n"]), float(stats["avgdl"])
    import math  # noqa: PLC0415

    idf = [
        math.log((n - float(stats[f"df_{i}"]) + 0.5) / (float(stats[f"df_{i}"]) + 0.5) + 1.0)
        for i in range(len(query_terms))
    ]

    def _eq(term: str):
        # one-arg closure: F.filter inspects the lambda's arity, and a
        # two-arg lambda (the `t=t` default-capture idiom) would be
        # called as (element, index)
        return lambda x: x == F.lit(term)

    def _score_of(t):
        dl = F.size(t).cast("double")
        norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
        score = F.lit(0.0)
        for i, term in enumerate(query_terms):
            tf = F.size(F.filter(t, _eq(term))).cast("double")
            score = score + F.lit(idf[i]) * tf * F.lit(k1 + 1.0) / (tf + norm)
        return score

    bm25 = F.aggregate(
        F.array(words(F.col(text_col))),  # 1-element array: binds the split
        F.lit(0.0),
        lambda acc, t: acc + _score_of(t),
        lambda acc: F.round(acc, 6),
    )
    # zero-score docs are dropped AFTER the top-k: scores are >= 0, so
    # zeros can only occupy ranks no positive doc wanted — the result
    # set is identical to filter-then-top-k, and the filter no longer
    # pushes below the projection (predicates get no CSE, so a pushed
    # filter would re-evaluate the whole scoring fold per row)
    return (
        docs.select(F.col(id_col), bm25.alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
        .filter(F.col("bm25") > 0.0)
    )


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 6,
    passes: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909): learn the top-``n_merges`` byte-pair merges from
    the corpus. Returns the trained merge table
    (merge_rank, left_sym, right_sym, pair_count) — the artifact a
    tokenizer build consumes.

    Scale shape — the reason BPE training is feasible at 100 TB: the
    corpus is touched ONCE (word-frequency aggregation, map-side
    combine), and every merge iteration runs on the persisted
    DISTINCT-WORD table, which is Heaps'-law-bounded and orders of
    magnitude smaller than the corpus. Per iteration: one
    adjacent-pair explode + hash agg over that word table, a 1-row
    argmax collect ((count DESC, pair ASC) tie-break), and a narrow
    merge projection. Driver state is ``n_merges`` rows total.

    Words are represented as space-joined symbol strings
    (" l o w e r "); a merge rewrites them with ``passes`` chained
    literal ``replace`` calls. Spark and DuckDB replace share
    exact left-to-right non-overlapping scan semantics, so the DuckDB
    twin (queries/llm_ops.py) replays training value-for-value with
    the merges unrolled as CTEs — the kmeans-oracle technique. One
    documented deviation from canonical greedy BPE: inside a run of
    >= 4 identical symbols, a single scan pass can pair symbols
    differently than strict left-to-right (" a a a a a " merges to
    "aa a aa", greedy gives "aa aa a"); the fixpoint after ``passes``
    passes merges the same NUMBER of pairs and is deterministic and
    engine-identical, which is what the oracle gate needs. Real word
    distributions essentially never hit it.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    from pyspark import StorageLevel  # noqa: PLC0415

    spark = docs.sparkSession
    schema = "merge_rank int, left_sym string, right_sym string, pair_count long"
    # Scope AQE's shuffle headroom away from the trainer: the engine
    # default starts every shuffle at 8x the target parallelism
    # (initialPartitionNum, sized for sf100 joins — session.py), but
    # persist() compiles the cached word-table plan EAGERLY under the
    # conf at call time, and AQE coalesce does not apply inside cached
    # plans — so under the 8x default the Heaps'-bounded table caches
    # as 8x-parallelism TINY partitions and every one of the n_merges
    # iteration jobs schedules that many tasks. This was the round-6
    # docs_bpe_merges regression (1.83 -> 4.92 s at sf0.1, judge-
    # confirmed): per-iteration time 0.36-0.47 s under 256 initial
    # partitions vs 0.21-0.27 s under 32, and the override must cover
    # the persist() call, not just the loop (round-7 instrumented A/B;
    # BASELINE.md round 7 measured the scan and broadcast settings
    # innocent). Restore on exit so the caller's session is
    # untouched.
    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev_init = spark.conf.get(init_key, None)
    spark.conf.set(init_key, spark.conf.get("spark.sql.shuffle.partitions"))
    wf = (
        docs.select(F.explode(words(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("token"), "(.)", "$1 ")
            ).alias("rep"),
            "cnt",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        merges: list[tuple[int, str, str, int]] = []
        cur = wf
        for i in range(n_merges):
            # bind the symbol array as a column BEFORE the n-gram lambda
            # (no CSE inside higher-order lambdas — see repetition_stats)
            syms = cur.select(
                F.split(F.trim(F.col("rep")), " ").alias("__s"), "cnt"
            )
            best = (
                syms.select(
                    F.explode(consecutive_ngrams(F.col("__s"), 2)).alias("pair"),
                    "cnt",
                )
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, c = best[0]["pair"], int(best[0]["c"])
            left, right = pair.split(" ")
            merges.append((i, left, right, c))
            new_rep = F.col("rep")
            for _ in range(passes):
                new_rep = F.replace(
                    new_rep, F.lit(f" {pair} "), F.lit(f" {left}{right} ")
                )
            cur = cur.select(new_rep.alias("rep"), "cnt")
        return spark.createDataFrame(merges, schema)
    finally:
        if prev_init is None:
            spark.conf.unset(init_key)
        else:
            spark.conf.set(init_key, prev_init)
        wf.unpersist()


def bpe_apply_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    passes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge table (``bpe_train_merges`` output) and
    emit per-document token counts — the tokenizer-application half of
    the train/apply pair, the statistic batch-shape planning reads.

    The merge list is a scale-independent literal artifact, so
    application is a FULLY NARROW map: each word becomes its symbol
    string, the merges rewrite it as chained literal ``replace`` calls
    (same ``passes`` fixpoint rule as training), and the per-doc symbol
    count is one array fold. No join, no explode, no shuffle, no
    Python — embarrassingly parallel at 100 TB. NULL-text docs emit a
    row with NULL counts (no generator to drop them), matching the
    oracle's list_transform-of-NULL.
    """
    def word_rep(w: Column) -> Column:
        rep = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
        for left, right in merges:
            for _ in range(passes):
                rep = F.replace(
                    rep, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
                )
        return rep

    # bind the token array first (no CSE inside higher-order lambdas)
    base = docs.select(F.col(id_col), words(F.col(text_col)).alias("__toks"))
    n_bpe = F.aggregate(
        F.transform(F.col("__toks"), word_rep),
        F.lit(0),
        lambda acc, r: acc + F.size(F.split(F.trim(r), " ")),
    )
    return base.select(
        F.col(id_col),
        F.size(F.col("__toks")).alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
    )


def unigram_lm_stats(
    docs: DataFrame,
    vocab_size: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Fit a truncated corpus unigram LM: the top-``vocab_size`` token
    counts plus the total token count. One explode + hash-agg pass with
    map-side partial counts and a TakeOrdered top-V cut (tie-break on
    token keeps the cut deterministic across engines), plus one narrow
    scan for the total. The collect is bounded by ``vocab_size`` — like
    ``bm25_corpus_stats``, this is the persisted LM artifact a real
    deployment fits once and reuses across scoring runs.
    """
    toks = words(F.col(text_col))
    n_total = docs.select(F.sum(F.size(toks)).alias("n")).collect()[0]["n"]
    tok = docs.select(F.explode(toks).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(vocab_size)
        .collect()
    )
    return {
        "n_total": int(n_total or 0),
        "vocab": [(r["token"], int(r["c"])) for r in vocab],
        "vocab_size": vocab_size,
    }


def unigram_logprob(
    docs: DataFrame,
    stats=None,
    vocab_size: int = 16,
    buckets: tuple[float, float] = (6.25, 6.65),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM — the
    CCNet-style perplexity quality signal (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3: bucket a corpus into head/middle/tail by LM
    perplexity; boilerplate scores unnaturally low, garbage scores
    high). Real CCNet uses a pretrained 5-gram LM; the truncated
    add-one unigram LM here is the same operator shape with the model
    fit as a first-class corpus pass.

    p(t) = (c_t + 1) / (N + V + 1) for the top-V vocabulary, and c = 0
    for out-of-vocabulary tokens. Log-probs are fixed as integer
    MICRO-nats (round(ln(p) * 1e6)) so the per-document sum is exact
    int64 arithmetic — order-independent across partitions and engines
    (the long-cents convention of the TPC-H money math); only the final
    per-doc division returns to doubles, identical IEEE ops both sides.

    Plan shape: the V-row LM broadcasts into the exploded token stream
    (broadcast hash join — the corpus never shuffles), and the per-doc
    sum partial-aggregates map-side, so the only exchange carries one
    slim row per document. With ``stats`` passed in, ONE corpus pass.
    NULL-text docs produce no row (explode of a NULL array), matching
    the oracle's unnest.
    """
    import math  # noqa: PLC0415

    if stats is None:
        stats = unigram_lm_stats(docs, vocab_size, id_col, text_col)
    t1, t2 = buckets
    schema = "token string, lp_micro long"
    spark = docs.sparkSession
    if stats["n_total"] == 0:
        return (
            docs.select(
                F.col(id_col),
                F.lit(0).cast("long").alias("n_tokens"),
                F.lit(0.0).alias("cross_entropy"),
                F.lit("head").alias("ppl_bucket"),
            ).filter(F.lit(False))
        )
    denom = float(stats["n_total"] + stats["vocab_size"] + 1)
    lm = spark.createDataFrame(
        [(t, round(math.log((c + 1) / denom) * 1e6)) for t, c in stats["vocab"]],
        schema,
    )
    oov_micro = round(math.log(1.0 / denom) * 1e6)
    tok = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("token")
    )
    per = (
        tok.join(F.broadcast(lm), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("lp_micro"), F.lit(oov_micro))).alias("_s"),
        )
    )
    ce = F.round(
        -(F.col("_s").cast("double") / F.lit(1000000.0))
        / F.col("n_tokens").cast("double"),
        6,
    )
    return per.select(
        F.col(id_col),
        "n_tokens",
        ce.alias("cross_entropy"),
        F.when(ce < F.lit(t1), "head")
        .when(ce < F.lit(t2), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# --------------------------------------------- hashing-trick embedder ---

HASH_EMBED_DIM = 32


def _hash48(col: Column) -> Column:
    """First 48 md5 bits as non-negative int64 (the engine-portable
    convention shared with dedup._md5_48)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast(
        "bigint"
    )


def hash_embedding(
    text_col: Column | str, dim: int = HASH_EMBED_DIM
) -> Column:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) bag-of-
    words embedding: v[i] = sum of +-1 over tokens hashing to index i
    (index = md5_48('i:'+tok) % dim, sign = parity of md5_48('s:'+tok)).
    Integer-exact and engine-portable, so unlike a learned float encoder
    the whole text->vector step sits under a DuckDB value oracle.

    Plan shape: a pure NARROW MAP — each token's (index, sign) pair is
    computed once into a bound array, then one O(n_tokens * dim) integer
    fold builds the vector row-locally. No explode, no shuffle, no
    Python: embedding 100 TB is embarrassingly parallel, and the output
    row is dim longs regardless of document size."""
    cells = F.transform(
        words(text_col),
        lambda t: F.struct(
            (_hash48(F.concat(F.lit("i:"), t)) % dim).alias("idx"),
            F.when(_hash48(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("sgn"),
        ),
    )
    zero = F.array_repeat(F.lit(0).cast("long"), dim)
    return F.aggregate(
        cells,
        zero,
        lambda acc, c: F.transform(
            acc, lambda x, i: x + F.when(c["idx"] == i, c["sgn"]).otherwise(0)
        ),
    )
