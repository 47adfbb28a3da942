"""LLM training-data pipeline queries: text analysis, dedup families,
embedding similarity search, approximate aggregates.

Oracle-checked where SQL-expressible — including the banded MinHash and
SimHash near-dup pipelines, whose md5-derived hashes DuckDB reproduces
bit-for-bit. Only the float-geometry LSH ANN and the engine-internal
approx aggregates are declared without oracles (driver records
rows-only); their quality is gated by recall tests in
tests/test_llm_ops.py instead.

The DuckDB SQL is generated from the same Python constants
(LANG_MARKERS / STOPWORDS / BPE_TOKEN_PATTERN) the Spark expressions use,
so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark import artifacts
from multi_report_etl_pipeline_spark.io import fan_out, read_table
from multi_report_etl_pipeline_spark.operators import dedup, similarity, text
from multi_report_etl_pipeline_spark.queries import QuerySpec

# ---------------------------------------------------------------- text ---

# DuckDB needs the 'g' flag for global regexp_replace (Spark replaces all
# occurrences by default).
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"
_BPE = text.BPE_TOKEN_PATTERN
_STOP_PAT = r"\b(" + "|".join(text.STOPWORDS) + r")\b"


def _lang_pat(lang: str) -> str:
    return r"\b(" + "|".join(text.LANG_MARKERS[lang]) + r")\b"


def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the regex maps are the cost; a single-file local fixture
    # would otherwise run them on one task (no-op on real multi-split
    # sources)
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return docs.select(
        "doc_id",
        text.token_count_ws("text").alias("n_tokens_ws"),
        text.token_count_bpe("text").alias("n_tokens_bpe"),
        F.round(
            F.length("text").cast("double") / text.token_count_ws("text").cast("double"), 6
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = f"""
SELECT
    doc_id,
    len({_WORDS}) AS n_tokens_ws,
    len(regexp_extract_all(text, '{_BPE}')) AS n_tokens_bpe,
    ROUND(CAST(length(text) AS DOUBLE) / CAST(len({_WORDS}) AS DOUBLE), 6) AS avg_token_len
FROM documents
"""


def docs_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return docs.select("doc_id", "lang", text.language_id("text").alias("lang_pred"))


def _lang_case_sql() -> str:
    """The language-id argmax as one DuckDB CASE expression (mirrors
    text.language_id arm for arm)."""
    s = {
        lang: f"len(regexp_extract_all(lower(text), '{_lang_pat(lang)}'))"
        for lang in text.LANG_MARKERS
    }
    return f"""CASE
        WHEN {s['en']} + {s['es']} + {s['fr']} + {s['de']} = 0 THEN 'unknown'
        WHEN {s['en']} >= {s['es']} AND {s['en']} >= {s['fr']} AND {s['en']} >= {s['de']} THEN 'en'
        WHEN {s['es']} >= {s['fr']} AND {s['es']} >= {s['de']} THEN 'es'
        WHEN {s['fr']} >= {s['de']} THEN 'fr'
        ELSE 'de'
    END"""


def _lang_id_sql() -> str:
    return f"""
SELECT doc_id, lang,
    {_lang_case_sql()} AS lang_pred
FROM documents
"""


def docs_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    feats = text.quality_features("text")
    return docs.select(
        "doc_id",
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        text.quality_score("text").alias("quality"),
    )


TEXT_QUALITY_SQL = f"""
WITH feats AS (
    SELECT
        doc_id,
        ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
        ROUND(CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS DOUBLE)
              / CAST(len({_WORDS}) AS DOUBLE), 6) AS stopword_ratio,
        len({_WORDS}) AS n_tokens
    FROM documents
)
SELECT
    doc_id,
    punct_ratio,
    stopword_ratio,
    ROUND(0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * least(stopword_ratio * 5, 1.0), 6) AS quality
FROM feats
"""


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: every document's exact GLOBAL training
    position under (quality DESC, doc_id) plus its 4-stage curriculum
    bucket — the quality-first ordering curriculum pretraining feeds a
    trainer. The total order comes from operators/ranking.py's
    parallel range sort (repartitionByRange + per-partition row_number
    + broadcast prefix offsets — n_partitions longs cross the driver),
    NEVER a single-task global window; the stage is the SQL-exact
    piecewise NTILE arithmetic over the same rank. This is the
    distributed-ranking operator's registry row: RFM's strategy picker
    chooses the window form at driver-testable scales, so the >100M-row
    path is value-checked here."""
    from multi_report_etl_pipeline_spark.operators.ranking import (  # noqa: PLC0415
        ntile_from_rank,
        with_global_rank,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    scored = docs.select(
        "doc_id", text.quality_score("text").alias("quality")
    )
    n_rows = docs.count()
    ranked = with_global_rank(
        scored,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        out_col="position",
    )
    return ranked.select(
        "doc_id",
        "quality",
        "position",
        ntile_from_rank(F.col("position"), n_rows, 4).alias("stage"),
    )


CURRICULUM_SQL = f"""
WITH feats AS (
    SELECT doc_id,
           ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
           ROUND(CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS DOUBLE)
                 / CAST(len({_WORDS}) AS DOUBLE), 6) AS stopword_ratio,
           len({_WORDS}) AS n_tokens
    FROM documents
),
scored AS (
    SELECT doc_id,
           ROUND(0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - punct_ratio)
               + 0.3 * least(stopword_ratio * 5, 1.0), 6) AS quality
    FROM feats
)
SELECT doc_id, quality,
       CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
           AS position,
       CAST(NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS INTEGER)
           AS stage
FROM scored
"""


def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (text.scrub_pii) + per-class audit counts.

    The fixture text is synthetic word salad with no PII, so the query
    plants deterministic PII built from doc_id — an email, a URL, an
    IPv4, and an intl phone — on BOTH engines before scrubbing; the
    oracle then checks the scrubbed text and counts value-for-value,
    proving the Java-regex and RE2 pattern subset really does agree.
    Pure narrow projection: chained regexp_replace in one codegen stage.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    sid = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), sid, F.lit("@example.com"),
            F.lit(" or https://ex.example/p/"), sid,
            F.lit(" node 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1 555-0155"),
        ).alias("text"),
    )
    counts = text.pii_counts("text")
    return aug.select(
        "doc_id",
        text.scrub_pii("text").alias("scrubbed"),
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
    )


def _pii_sql() -> str:
    from multi_report_etl_pipeline_spark.operators.text import PII_PATTERNS

    pats = dict((name, pat) for name, pat, _ in PII_PATTERNS)
    scrub = "text"
    for name, pat, repl in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or https://ex.example/p/'
                || CAST(doc_id AS VARCHAR)
                || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.7 tel +1 555-0155' AS text
    FROM documents
)
SELECT doc_id,
       {scrub} AS scrubbed,
       CAST(len(regexp_extract_all(text, '{pats["url"]}')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(text, '{pats["email"]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{pats["ipv4"]}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '{pats["phone"]}')) AS BIGINT) AS n_phone
FROM aug
"""


def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))


FINGERPRINT_SQL = f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents"


def docs_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash (Rabin-Karp over 48-bit md5 token
    hashes) — distinguishes documents with the same token multiset in a
    different order, which the whole-text md5 also does but chunked/
    windowed variants build on this fold."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_fingerprint("text").alias("rolling_fp"))


ROLLING_FP_SQL = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform({_WORDS},
                   t -> CAST(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % {text.ROLLING_HASH_PRIME}
       ) AS rolling_fp
FROM documents
"""


# --------------------------------------------------------------- dedup ---


def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out parallelizes the normalize+md5 map (regex over long text is
    # the dominant cost); keep=... drops the text column before the
    # fingerprint shuffle. Together: 1.33s -> 0.53s at sf0.1.
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return dedup.exact_dedup(docs, keep=["doc_id", "fingerprint"])


EXACT_DEDUP_SQL = f"""
SELECT doc_id, fingerprint FROM (
    SELECT doc_id, md5({_NORM}) AS fingerprint,
           ROW_NUMBER() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id ASC) AS rn
    FROM documents
) WHERE rn = 1
"""


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)


NGRAM_JACCARD_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
f AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
sh AS (SELECT doc_id, list_distinct(list_transform(range(0, len(words) - 2),
           i -> array_to_string(words[i + 1:i + 3], ' '))) AS shingles FROM f),
e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
pairs AS (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS common
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       ROUND(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 6) AS jaccard
FROM pairs
JOIN sizes s1 ON doc_id_1 = s1.doc_id
JOIN sizes s2 ON doc_id_2 = s2.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 6) >= 0.8
"""


def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 4-gram with the
    held-out 'benchmark' slice (doc_id % 50 == 0), with shared-ngram
    counts. The eval-leakage guard every training pipeline runs."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.contamination_flags(corpus, bench, n=4)


CONTAMINATION_SQL = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_distinct([array_to_string(w[i:i+3], ' ')
                                 for i in range(1, len(w) - 2)])) AS shingle
    FROM toks WHERE len(w) >= 4
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
SELECT c.doc_id, COUNT(*) AS n_shared_ngrams
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id
"""


def docs_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return dedup.minhash_near_dup_pairs(docs, jaccard_threshold=0.8)


# Value-level oracle for the banded-MinHash pipeline: every hash is
# md5-derived integer arithmetic (48-bit base hash + the (a*h+b) mod 2^48
# permutation family from dedup.MINHASH_PERMS — a odd => a bijection on
# Z_2^48, so equal minhash values imply a genuinely shared shingle hash),
# which DuckDB reproduces bit-for-bit. The twin mirrors all four stages:
# signature, banding, candidate distinct, exact-Jaccard verification.
_MINHASH_CONSTS = ", ".join(
    f"({t}, {a}, {b})" for t, (a, b) in enumerate(dedup.MINHASH_PERMS)
)
MINHASH_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
f AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(words) - 2),
           i -> array_to_string(words[i + 1:i + 3], ' ')))) AS shingle FROM f),
e AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h FROM sh),
perms AS (SELECT * FROM (VALUES {_MINHASH_CONSTS}) AS v(t, a, b)),
sig AS (SELECT doc_id, t, MIN((a * h + b) % {dedup.MINHASH_MOD}) AS m
        FROM e CROSS JOIN perms GROUP BY 1, 2),
cand AS (SELECT DISTINCT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2
         FROM sig s1 JOIN sig s2
           ON s1.t = s2.t AND s1.m = s2.m AND s1.doc_id < s2.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
common AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS c
           FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT doc_id_1, doc_id_2,
       ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS est_jaccard
FROM cand
JOIN common USING (doc_id_1, doc_id_2)
JOIN sizes s1 ON doc_id_1 = s1.doc_id
JOIN sizes s2 ON doc_id_2 = s2.doc_id
WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= 0.8
"""


def docs_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination (operators/dedup.fuzzy_contamination_pairs):
    (train doc, benchmark doc) pairs with 3-gram Jaccard >= 0.5, banded
    MinHash across the same %50 corpus/benchmark split as
    docs_contamination. Catches the paraphrased eval leakage the exact
    4-gram flags and the Bloom pre-screen both miss; together the three
    form the standard decontamination ladder (exact-ngram -> Bloom at
    scale -> near-dup). All integer md5 arithmetic — full value oracle."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.fuzzy_contamination_pairs(corpus, bench, jaccard_threshold=0.5)


# Twin of MINHASH_SQL split across the corpus/benchmark boundary: same
# signature CTEs, band join ACROSS sides instead of a self-join, exact
# hashed-shingle Jaccard verify at 0.5.
FUZZY_CONTAMINATION_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
f AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(words) - 2),
           i -> array_to_string(words[i + 1:i + 3], ' ')))) AS shingle FROM f),
e AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h FROM sh),
perms AS (SELECT * FROM (VALUES {_MINHASH_CONSTS}) AS v(t, a, b)),
sig AS (SELECT doc_id, t, MIN((a * h + b) % {dedup.MINHASH_MOD}) AS m
        FROM e CROSS JOIN perms GROUP BY 1, 2),
cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc_id
         FROM sig c JOIN sig b ON c.t = b.t AND c.m = b.m
         WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
common AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_doc_id, COUNT(*) AS cm
           FROM e c JOIN e b ON c.h = b.h
           WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
           GROUP BY 1, 2)
SELECT doc_id, bench_doc_id,
       ROUND(CAST(cm AS DOUBLE) / (s1.n + s2.n - cm), 6) AS est_jaccard
FROM cand
JOIN common USING (doc_id, bench_doc_id)
JOIN sizes s1 ON doc_id = s1.doc_id
JOIN sizes s2 ON bench_doc_id = s2.doc_id
WHERE ROUND(CAST(cm AS DOUBLE) / (s1.n + s2.n - cm), 6) >= 0.5
"""


def docs_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as an ESTIMATOR, not just a candidate filter: for every
    banded candidate pair, the signature-agreement fraction (matching
    permutations / 8 — the textbook unbiased Jaccard estimator,
    E[agreement] = J) is emitted NEXT TO the exact hashed-shingle
    Jaccard, so the estimator's per-pair error is itself value-oracled
    (the same witness-column pattern as events_hourly_unique_users).
    Every quantity is integer/dyadic arithmetic — bit-identical in both
    engines.

    Scale: identical cost shape to docs_minhash_near_dup (signature
    partial agg, banded self-join); the agreement count adds one
    zip_with fold over two 8-slot arrays per candidate."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    nt = 8
    perms = dedup.MINHASH_PERMS[:nt]
    hs = dedup.shingles(docs, "text", 3).select(
        "doc_id", dedup._md5_48(F.col("shingle")).alias("h")  # noqa: SLF001
    )
    sigs = hs.groupBy("doc_id").agg(
        F.collect_set("h").alias("hset"),
        F.array(
            *(
                F.min(
                    (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(dedup.MINHASH_MOD)
                )
                for a, b in perms
            )
        ).alias("sig"),
    )
    bands = sigs.select(
        "doc_id", F.posexplode("sig").alias("t", "v")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["t", "v"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .distinct()
    )
    s1 = sigs.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("sig").alias("sig1"),
        F.col("hset").alias("hs1"),
    )
    s2 = sigs.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("sig").alias("sig2"),
        F.col("hset").alias("hs2"),
    )
    agree = F.aggregate(
        F.zip_with(
            "sig1", "sig2", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    jac = F.size(F.array_intersect("hs1", "hs2")).cast("double") / F.size(
        F.array_union("hs1", "hs2")
    ).cast("double")
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(agree.cast("double") / F.lit(float(nt)), 6).alias(
                "sig_agreement"
            ),
            F.round(jac, 6).alias("exact_jaccard"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


MINHASH_ESTIMATE_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
f AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(words) - 2),
           i -> array_to_string(words[i + 1:i + 3], ' ')))) AS shingle FROM f),
e AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h FROM sh),
perms AS (SELECT * FROM (VALUES {_MINHASH_CONSTS}) AS v(t, a, b)),
sig AS (SELECT doc_id, t, MIN((a * h + b) % {dedup.MINHASH_MOD}) AS m
        FROM e CROSS JOIN perms GROUP BY 1, 2),
cand AS (SELECT DISTINCT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2
         FROM sig s1 JOIN sig s2
           ON s1.t = s2.t AND s1.m = s2.m AND s1.doc_id < s2.doc_id),
agree AS (SELECT c.doc_id_1, c.doc_id_2,
                 SUM(CASE WHEN s1.m = s2.m THEN 1 ELSE 0 END) AS a
          FROM cand c
          JOIN sig s1 ON s1.doc_id = c.doc_id_1
          JOIN sig s2 ON s2.doc_id = c.doc_id_2 AND s1.t = s2.t
          GROUP BY 1, 2),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
common AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS c
           FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT cand.doc_id_1, cand.doc_id_2,
       ROUND(CAST(ag.a AS DOUBLE) / 8.0, 6) AS sig_agreement,
       ROUND(CAST(COALESCE(cm.c, 0) AS DOUBLE) / (s1.n + s2.n - COALESCE(cm.c, 0)),
             6) AS exact_jaccard
FROM cand
JOIN agree ag USING (doc_id_1, doc_id_2)
LEFT JOIN common cm USING (doc_id_1, doc_id_2)
JOIN sizes s1 ON cand.doc_id_1 = s1.doc_id
JOIN sizes s2 ON cand.doc_id_2 = s2.doc_id
ORDER BY cand.doc_id_1, cand.doc_id_2
"""


def docs_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return dedup.simhash_near_dup_pairs(docs, max_hamming=3)


# Value-level oracle for SimHash: the 64 bit sources are the two 32-bit
# halves of md5(token), the per-bit sign votes and the 4x16-bit banding
# run on those non-negative halves on both engines (no signed-shift
# semantics in play), and the final Hamming distance is
# bit_count(xor(lo)) + bit_count(xor(hi)).
SIMHASH_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
h AS (SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS lo,
             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS hi
      FROM toks),
votes AS (SELECT doc_id, i,
                 SUM(CASE WHEN ((CASE WHEN i < 32 THEN lo ELSE hi END
                                 >> (i % 32)) & 1) = 1
                          THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN range(64) AS r(i) GROUP BY 1, 2),
sig AS (SELECT doc_id,
               SUM(CASE WHEN i < 32 AND v > 0 THEN CAST(1 AS BIGINT) << i
                        ELSE 0 END) AS sig_lo,
               SUM(CASE WHEN i >= 32 AND v > 0 THEN CAST(1 AS BIGINT) << (i - 32)
                        ELSE 0 END) AS sig_hi
        FROM votes GROUP BY 1),
bands AS (SELECT doc_id, sig_lo, sig_hi,
                 unnest([sig_lo & 65535, sig_lo >> 16,
                         sig_hi & 65535, sig_hi >> 16]) AS bv,
                 unnest([0, 1, 2, 3]) AS bt
          FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
                a.sig_lo AS lo1, a.sig_hi AS hi1,
                b.sig_lo AS lo2, b.sig_hi AS hi2
         FROM bands a JOIN bands b
           ON a.bt = b.bt AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_id_1, doc_id_2,
       CAST(bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)) AS INTEGER)
           AS hamming
FROM cand
WHERE bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)) <= 3
"""


# ---------------------------------------------------------- similarity ---


# Query sets, quantizers and corpus statistics are artifact-store
# entries: built once per snapshot, not per call. perfbench counts them.
_CONSTRUCT_CACHE = artifacts.STORE


# Hard bound on the brute-force query set: the query side is collected
# to the driver for the GEMM broadcast, so it must be CONSTANT-sized by
# construction, never corpus-proportional. The old `vec_id % 100 == 0`
# predicate alone grew with the corpus (round-5 verdict flag #3); the
# TakeOrdered LIMIT below caps driver traffic at _TOPK_MAX_Q rows at
# any scale, and brute_topk(max_q=...) re-asserts it so no future
# caller can silently violate the broadcast contract. At the shipped
# SFs (< 500 qualifying ids) results are unchanged.
_TOPK_MAX_Q = 500


def _topk_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") % 100 == 0).orderBy("vec_id").limit(_TOPK_MAX_Q)


def _topk_query_rows(queries: DataFrame, sf_dir: str) -> list:
    """The collected (q_id, q_vec) query set: one artifact shared by the
    brute-force and PQ searches."""
    return artifacts.get(
        "topk_queries",
        sf_dir,
        ("embeddings",),
        lambda: queries.select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ).collect(),
    )


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    queries = _topk_queries(emb)
    return similarity.brute_topk(
        emb, queries, k=10, q_rows=_topk_query_rows(queries, sf_dir), max_q=_TOPK_MAX_Q
    )


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id % 100 = 0
           ORDER BY vec_id LIMIT {_TOPK_MAX_Q}),
c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings),
sims AS (
    SELECT q_id, c_id,
           list_dot_product(q_vec, c_vec)
             / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))) AS sim
    FROM c CROSS JOIN q WHERE c_id <> q_id
)
SELECT q_id,
       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank,
       c_id,
       ROUND(sim, 6) AS cosine_sim
FROM sims
QUALIFY rank <= 10
"""


def emb_blocked_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via kmeans blocking — the SCALE path,
    registered in place of the exact-quadratic ``near_dup_pairs``
    baseline the round-5 verdict flagged (a corpus-wide crossJoin must
    not be reachable from the public registry). Candidates are
    restricted to cluster-mates of the engine-portable distributed
    kmeans with top-3 multi-probe assignment (each vector blocks into
    its three nearest cells, so borderline pairs straddling cell
    boundaries still meet: 0.985 pair recall vs the exact witness on
    the sf0.001 fixture, vs 0.30 single-probe — O(p^2 n^2/k) GEMM work,
    one shuffle), and each emitted ``cosine_sim`` is rescored by the
    exact JVM fold — so the whole pipeline, partition stage included,
    sits under the unrolled-Lloyd DuckDB value oracle. The quadratic
    form survives as the test-only recall/superset witness
    (tests/test_llm_ops.py)."""
    from multi_report_etl_pipeline_spark.operators.similarity import (  # noqa: PLC0415
        cluster_near_dup_pairs,
        distributed_kmeans,
    )

    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    assign = distributed_kmeans(emb, k=8, iters=3, top_p=_BLOCKED_P)
    return (
        cluster_near_dup_pairs(emb, assign, threshold=0.4)
        .dropDuplicates(["id_1", "id_2"])  # pair may share both probe cells
        .orderBy("id_1", "id_2")
    )


def emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # for unit-norm vectors, L2 <= sqrt(2*(1-cos)) <=> cosine >= 0.4;
    # dim=64 passed explicitly so plan construction runs no driver job.
    # max_bucket=1000 engages the hot-bucket tiling guard: ~0.4 s of
    # extra shuffle at sf0.1, but 18.1 s -> 4.4 s at sf1 (same sitting)
    # once buckets grow quadratic — the 100 TB posture.
    return similarity.lsh_ann_pairs(
        emb, max_l2_dist=1.0954451150103324, bucket_length=1.25, num_hash_tables=6,
        dim=64, max_bucket=1000,
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


CENTROIDS_SQL = """
SELECT label, i - 1 AS dim, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 5) AS centroid
FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
GROUP BY 1, 2
"""


# ---------------------------------------------------------- multimodal ---


def docs_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary feature extraction (mapInPandas) over the
    media-ified documents table. The Python decode runs per Arrow batch;
    the md5 checksum makes the whole path value-checkable: DuckDB's
    md5(VARCHAR) hashes the same UTF-8 bytes the payload carries."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    feats = multimodal.extract_features(multimodal.documents_as_media(docs))
    return feats.select("media_id", "media_type", "n_bytes", "checksum")


MEDIA_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
       END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS checksum
FROM documents
"""


def docs_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over video-typed binary payloads.

    Oracle-checkable because the fixture payloads are ASCII (byte offsets
    == char offsets, verified in tests), so DuckDB can recompute the
    byte-slice md5s with substr over the text."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = read_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.documents_as_media(docs)).select(
        "media_id", "frame_idx", "frame_checksum"
    )


VIDEO_FRAMES_SQL = """
WITH media AS (
    SELECT doc_id AS media_id, text
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
),
idx AS (SELECT unnest(range(0, 4)) AS frame_idx)
SELECT media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       md5(substr(text,
                  CAST(frame_idx * greatest(length(text) // 4, 1) + 1 AS INT),
                  64)) AS frame_checksum
FROM media CROSS JOIN idx
"""


# --------------------------------------------- sampling / curation ---


def docs_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codecs under the oracle gate, one compressed tier per
    doc_id residue: %3==0 becomes a 1-row binary PGM (P5 header built
    in-plan), %3==1 a NATIVE 8-bit PNG (zlib-compressed scanline,
    encoded in an Arrow batch step), %3==2 a NATIVE baseline JFIF —
    each character expands to a constant 8x8 block, whose only nonzero
    DCT coefficient is DC = 8·(v−128); with the all-8s quantization
    table that round-trips EXACTLY through quantize/Huffman/IDCT, so
    the lossy codec's full entropy+transform path sits under the
    value-level oracle. All three decode back to pixels inside the
    Arrow image_stats path; the emitted dimensions + mean gray value
    are value-checked against DuckDB computing the same statistics
    directly from the characters (a constant-block image's pixel mean
    IS the character mean), so a header/offset/unfilter/inflate/
    Huffman/IDCT bug in ANY codec shifts the mean and fails the hash."""
    from collections.abc import Iterator  # noqa: PLC0415

    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    header = F.concat(
        F.lit("P5\n"), F.octet_length("text").cast("string"), F.lit(" 1\n255\n")
    )
    meta = [
        F.lit("image").alias("media_type"),
        F.col("lang").alias("meta_lang"),
        F.col("source").alias("meta_source"),
    ]
    pgm = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.encode(header, "UTF-8"), F.encode("text", "UTF-8")).alias("payload"),
        *meta,
    )

    def _encoder_batch(encode_one):
        def _enc(batches: Iterator) -> Iterator:
            import pandas as pd  # noqa: PLC0415

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "payload": [encode_one(t) for t in pdf["text"]],
                        "media_type": "image",
                        "meta_lang": pdf["meta_lang"],
                        "meta_source": pdf["meta_source"],
                    }
                )

        return _enc

    def _one_png(t: str) -> bytes:
        import numpy as np  # noqa: PLC0415

        return multimodal.encode_png(
            np.frombuffer(t.encode("utf-8"), dtype=np.uint8)[None, :]
        )

    def _one_jpeg(t: str) -> bytes:
        import numpy as np  # noqa: PLC0415

        row = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        blocks = np.repeat(np.repeat(row[None, :], 8, axis=0), 8, axis=1)
        return multimodal.encode_jpeg_gray(blocks)

    src = docs.select(
        F.col("doc_id").alias("media_id"),
        "text",
        F.col("lang").alias("meta_lang"),
        F.col("source").alias("meta_source"),
    )
    png = src.filter(F.col("media_id") % 3 == 1).mapInPandas(
        _encoder_batch(_one_png), multimodal.MEDIA_SCHEMA
    )
    jpeg = src.filter(F.col("media_id") % 3 == 2).mapInPandas(
        _encoder_batch(_one_jpeg), multimodal.MEDIA_SCHEMA
    )
    stats = multimodal.image_stats(pgm.unionByName(png).unionByName(jpeg))
    return stats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "channels",
        F.round(F.element_at("mean_pixel", 1), 6).alias("mean_gray"),
    )


IMAGE_DECODE_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 8 * octet_length(encode(text))
                 ELSE octet_length(encode(text)) END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 8 ELSE 1 END AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels,
       ROUND(list_aggregate([ord(c) for c in string_split_regex(text, '')], 'avg'), 6)
           AS mean_gray
FROM documents
"""


def _dhash_frame(spark: SparkSession, sf_dir: str, with_twins: bool = False):
    """Shared front half of the dHash queries: reshape each document's
    bytes into an 8-row grayscale PGM (w = floor(bytes/8) columns, the
    first 8w bytes as the raster — docs under 72 bytes are skipped, a
    9x8 downsample grid needs at least that), run the NATIVE decode ->
    ``multimodal.image_dhash`` Arrow path, return (doc_id, dhash_hi,
    dhash_lo). Everything after the decoder is exact integer arithmetic
    (box sums + cross-multiplied comparisons), so DuckDB derives the
    identical 64 bits straight from the characters.

    ``with_twins`` adds the near-identical-image fixture the dedup
    fixtures lack (text near-dups SHIFT pixels, so their images land
    >= 12 Hamming bits apart): every image also arrives as a
    corrupted-tail twin (doc_id + 10^9) whose final column box of the
    final row band — raster bytes [7w + floor(8w/9), 8w) — is
    overwritten with 'z'. Only bit 63 compares that box, so each twin
    sits within Hamming 1 of its original: the recompressed/damaged
    re-crawl duplicate every image-dedup pipeline exists to catch."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return multimodal.image_dhash(_dhash_media(docs, with_twins)).select(
        F.col("media_id").alias("doc_id"), "dhash_hi", "dhash_lo"
    )


def _dhash_media(docs, with_twins: bool = False):
    """The in-plan text->8-row-PGM image construction over any (doc_id,
    text) frame — batch or STREAMING (pure narrow expressions, so it
    composes under readStream too). Non-ASCII docs are excluded up
    front (byte-derived width + character-sliced raster are only
    consistent on ASCII; the SQL twins carry the same predicate —
    ADVICE round 6)."""
    docs = docs.filter(F.octet_length("text") == F.length("text"))
    w = F.floor(F.octet_length("text") / 8).cast("int")
    eligible = (
        docs.withColumn("w", w)
        .filter(F.col("w") >= 9)
        .select("doc_id", "text", "w")
    )
    if with_twins:
        cut = F.col("w") * 7 + F.floor(F.col("w") * 8 / 9).cast("int")
        twin_text = F.concat(
            F.substring("text", F.lit(1), cut),
            F.repeat(F.lit("z"), (F.col("w") * 8 - cut).cast("int")),
        )
        eligible = eligible.unionByName(
            eligible.select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                twin_text.alias("text"),
                "w",
            )
        )
    header = F.concat(
        F.lit("P5\n"), F.col("w").cast("string"), F.lit(" 8\n255\n")
    )
    return eligible.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(header, "UTF-8"),
            F.encode(F.substring("text", F.lit(1), F.col("w") * 8), "UTF-8"),
        ).alias("payload"),
    )


def docs_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (dHash) through the REAL codec path +
    exact-duplicate grouping: per doc, the 64-bit difference hash of its
    text-as-8-row-image (two 32-bit halves) and the canonical
    representative (min doc_id) of its identical-hash group — the
    primitive every web-scale multimodal pipeline runs before image
    dedup. The decode->downsample->compare pipeline is exact integer
    arithmetic end-to-end (multimodal.dhash_array), so the ENTIRE
    operator — including the native PGM decode — sits under the DuckDB
    value oracle computing the same box sums from the characters.

    Scale: one narrow Arrow decode pass (bytes cross once per batch),
    one hash-keyed window for the group representative; nothing wide
    shuffles (the image bytes never leave the map side)."""
    from pyspark.sql import Window  # noqa: PLC0415

    hashes = _dhash_frame(spark, sf_dir)
    return hashes.withColumn(
        "rep_id",
        F.min("doc_id").over(Window.partitionBy("dhash_hi", "dhash_lo")),
    )


# The hash-derivation CTE chain, parameterized over the raw-text source
# CTE (`{src}` must provide doc_id, text): exact integer box sums over
# the 9x8 downsample grid, cross-multiplied comparisons, 64 bits packed
# into two 32-bit halves — the SQL twin of multimodal.dhash_array
# specialized to the 8-row text-raster images _dhash_frame builds.
_DHASH_HASHES_CTES = """
b AS (
    SELECT doc_id,
           [ord(c) for c in string_split_regex(text, '')] AS px,
           octet_length(encode(text)) // 8 AS w
    FROM {src}
    WHERE octet_length(encode(text)) = length(text)
), f AS (SELECT * FROM b WHERE w >= 9),
cells AS (
    SELECT doc_id, r.r AS r, i.i AS i,
           list_aggregate(
               px[r.r * w + (i.i * w) // 9 + 1 : r.r * w + ((i.i + 1) * w) // 9],
               'sum') AS s,
           ((i.i + 1) * w) // 9 - (i.i * w) // 9 AS c
    FROM f,
         (SELECT unnest(range(0, 8)) AS r) r,
         (SELECT unnest(range(0, 9)) AS i) i
),
bits AS (
    SELECT a.doc_id, a.r, a.i,
           CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
    FROM cells a
    JOIN cells b ON a.doc_id = b.doc_id AND a.r = b.r AND b.i = a.i + 1
    WHERE a.i < 8
),
hashes AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN 8 * r + i >= 32
                         THEN bit * (CAST(1 AS BIGINT) << (8 * r + i - 32))
                         ELSE 0 END) AS BIGINT) AS dhash_hi,
           CAST(SUM(CASE WHEN 8 * r + i < 32
                         THEN bit * (CAST(1 AS BIGINT) << (8 * r + i))
                         ELSE 0 END) AS BIGINT) AS dhash_lo
    FROM bits GROUP BY doc_id
)
"""

IMAGE_DHASH_SQL = (
    "WITH "
    + _DHASH_HASHES_CTES.format(src="documents")
    + """
SELECT doc_id, dhash_hi, dhash_lo,
       MIN(doc_id) OVER (PARTITION BY dhash_hi, dhash_lo) AS rep_id
FROM hashes
"""
)


def docs_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over the dHash: DISTINCT-hash
    groups (min-id representative + member count) paired when their
    64-bit hashes sit within Hamming distance 3, candidates from the
    same pigeonhole-complete 4x16-bit banding as SimHash
    (dedup.hamming_banded_pairs). Grouping BEFORE banding is the
    hot-group guard by construction — byte-identical images share a
    hash, so the band join sees each distinct hash once and the m^2
    identical-copy pathology cannot reach it; group sizes ride along so
    doc-level pair counts reconstruct without materializing them.

    The corpus includes each image's corrupted-tail twin (see
    ``_dhash_frame``): the operator must recover every (original, twin)
    pair at Hamming <= 1 while unrelated images sit >= 12 bits apart —
    planted-recovery is value-checked, not just thresholded."""
    hashes = _dhash_frame(spark, sf_dir, with_twins=True)
    groups = hashes.groupBy("dhash_hi", "dhash_lo").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_docs")
    )
    # Same materialization as docs_audio_near_dup: 10 downstream
    # references would re-run the Arrow decode+dHash pass per reference
    # past what AQE exchange reuse recovers; one row per DISTINCT hash.
    groups = groups.localCheckpoint(eager=True)
    sigs = groups.select(
        F.col("rep_id").alias("doc_id"),
        F.col("dhash_lo").alias("sig_lo"),
        F.col("dhash_hi").alias("sig_hi"),
    )
    pairs = dedup.hamming_banded_pairs(
        sigs, max_hamming=3, materialize=False  # groups checkpointed above
    ).select(
        F.col("doc_id_1").alias("rep_id_1"),
        F.col("doc_id_2").alias("rep_id_2"),
        "hamming",
    )
    n1 = groups.select(
        F.col("rep_id").alias("rep_id_1"), F.col("n_docs").alias("n_docs_1")
    )
    n2 = groups.select(
        F.col("rep_id").alias("rep_id_2"), F.col("n_docs").alias("n_docs_2")
    )
    return pairs.join(n1, "rep_id_1").join(n2, "rep_id_2").select(
        "rep_id_1", "rep_id_2", "hamming", "n_docs_1", "n_docs_2"
    )


DHASH_NEAR_DUP_SQL = (
    """
WITH src AS (
    SELECT doc_id, text FROM documents
    WHERE octet_length(encode(text)) = length(text)
    UNION ALL
    SELECT doc_id + 1000000000,
           substr(text, 1, 7 * w + (8 * w) // 9)
               || repeat('z', 8 * w - (7 * w + (8 * w) // 9))
    FROM (SELECT doc_id, text, octet_length(encode(text)) // 8 AS w
          FROM documents
          WHERE octet_length(encode(text)) = length(text))
    WHERE w >= 9
),
"""
    + _DHASH_HASHES_CTES.format(src="src")
    + """,
groups AS (
    SELECT dhash_hi, dhash_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
    FROM hashes GROUP BY 1, 2
)
SELECT a.rep_id AS rep_id_1, b.rep_id AS rep_id_2,
       CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER) AS hamming,
       a.n_docs AS n_docs_1, b.n_docs AS n_docs_2
FROM groups a JOIN groups b ON a.rep_id < b.rep_id
WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
      + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3
"""
)


def streaming_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_image_dhash's group election: document
    images arrive as a file stream (the crawler landing-zone shape),
    each micro-batch runs the SAME in-plan PGM construction + Arrow
    decode->dHash pass (mapInPandas composes under readStream), and the
    per-hash group state — (min doc_id representative, member count) —
    is maintained incrementally in complete mode, drained with
    availableNow and hash-checked against the batch grouping oracle.
    State is one narrow row per DISTINCT image hash (the same state
    class as streaming_vocabulary's per-token counts); the drain is
    bounded to 8 shuffle partitions like the sketch streams."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = streaming.read_documents_stream(spark, sf_dir)
    groups = (
        multimodal.image_dhash(_dhash_media(docs))
        .groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.min("media_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    streaming.run_available_now(
        groups, "q_stream_img_dedup", "complete", shuffle_partitions=8
    )
    return spark.table("q_stream_img_dedup")


STREAM_IMAGE_DEDUP_SQL = (
    "WITH "
    + _DHASH_HASHES_CTES.format(src="documents")
    + """
SELECT dhash_hi, dhash_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
FROM hashes GROUP BY 1, 2
"""
)


def _wav_media(docs, with_twins: bool = False):
    """The in-plan text -> 8-bit-mono-8kHz-WAV construction over any
    (doc_id, text) frame: each document's bytes become the PCM data
    chunk of a genuine RIFF/WAVE container, headers assembled from pure
    codegen expressions (hex/lpad/unhex little-endian words). Shared by
    the audio decode/fingerprint queries — batch or streaming (narrow
    expressions only).

    ``with_twins`` adds each clip's damaged-tail twin (doc_id + 10^9):
    samples from frame boundary floor(62*n/65) on are overwritten with
    near-silence ('~' = 126, |deviation| 2 from the u8 zero point) —
    the truncated / silence-repadded re-encode every audio-dedup
    pipeline exists to catch. Only frames 62-64 change, so bits 61-63
    are the only fingerprint bits that can flip: each twin sits within
    Hamming 3 of its original, inside hamming_banded_pairs' pigeonhole
    guarantee.

    The construction mixes byte semantics (octet_length chunk sizing)
    with character semantics (substring slicing), which is only exact
    while a document is pure ASCII — so non-ASCII docs are EXCLUDED
    here, before twin construction, and every SQL twin carries the same
    octet_length(encode(text)) = length(text) predicate on its raw
    document source (ADVICE round 6: enforce the invariant instead of
    assuming it)."""
    docs = docs.filter(F.octet_length("text") == F.length("text"))
    n = F.octet_length("text").cast("bigint")
    if with_twins:
        cut = F.floor(n * 62 / 65).cast("int")
        twin_text = F.concat(
            F.substring("text", F.lit(1), cut),
            F.repeat(F.lit("~"), (n - cut).cast("int")),
        )
        docs = docs.select("doc_id", "text").unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                twin_text.alias("text"),
            )
        )
        n = F.octet_length("text").cast("bigint")

    def le32(c):
        # int -> 4 little-endian bytes, via a hex string (pure codegen:
        # hex/lpad/unhex); c must be < 2^32
        parts = [
            F.lpad(F.hex(F.floor(c / F.lit(1 << (8 * i))).cast("bigint") % 256), 2, "0")
            for i in range(4)
        ]
        return F.unhex(F.concat_ws("", *parts))

    # fmt chunk = <HHIIHH>(tag=1, channels=1, rate=8000, byterate=8000,
    # block=1, bits=8), little-endian
    fmt_body = F.lit(bytes([1, 0, 1, 0, 0x40, 0x1F, 0, 0, 0x40, 0x1F, 0, 0, 1, 0, 8, 0]))
    payload = F.concat(
        F.lit(b"RIFF"), le32(n + F.lit(36)), F.lit(b"WAVEfmt "), le32(F.lit(16)),
        fmt_body, F.lit(b"data"), le32(n), F.encode("text", "UTF-8"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )


def docs_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAV codec under the oracle gate: each document's bytes become
    the PCM data chunk of a genuine 8-bit mono 8 kHz WAV (RIFF headers
    built in-plan via ``_wav_media``), decoded by the native chunk
    walker inside the Arrow audio_stats path; sample count, duration,
    and RMS amplitude are value-checked against DuckDB computing them
    from the characters (centered at 128, the u8 PCM zero-amplitude
    point, on both sides)."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    stats = multimodal.audio_stats(_wav_media(docs))
    return stats.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "channels",
        "n_samples",
        "duration_s",
        "rms",
    )


AUDIO_DECODE_SQL = """
SELECT doc_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
       ROUND(octet_length(encode(text)) / 8000.0, 6) AS duration_s,
       ROUND(sqrt(list_aggregate([(ord(c) - 128) * (ord(c) - 128)
                                  for c in string_split_regex(text, '')],
                                 'avg')), 6) AS rms
FROM documents
WHERE octet_length(encode(text)) = length(text)
"""


def _audio_fp_frame(spark: SparkSession, sf_dir: str, with_twins: bool = False):
    """Shared front half of the audio-fingerprint queries: clips with
    >= 65 samples (one per frame) through the in-plan WAV construction
    and the NATIVE decode -> ``multimodal.audio_fingerprint`` Arrow
    path, returning (doc_id, afp_hi, afp_lo). Everything after the
    decoder is exact integer arithmetic (frame energy sums +
    cross-multiplied comparisons), so DuckDB derives the identical 64
    bits straight from the characters."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    eligible = docs.filter(F.octet_length("text") >= 65).select("doc_id", "text")
    return multimodal.audio_fingerprint(_wav_media(eligible, with_twins)).select(
        F.col("media_id").alias("doc_id"), "afp_hi", "afp_lo"
    )


def docs_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic fingerprinting (simplified Haitsma-Kalker energy
    envelope) through the REAL WAV codec path + exact-duplicate
    grouping: per clip, the 64-bit frame-energy difference hash (two
    32-bit halves) and the canonical representative (min doc_id) of its
    identical-fingerprint group — the audio half of the multimodal
    dedup matrix (the image half is docs_image_dhash). Gain-invariant
    by construction (cross-multiplied energy comparisons), so
    volume-normalized re-encodes collide with their originals.

    Scale: one narrow Arrow decode pass (payload bytes cross once per
    batch and never leave the map side), one fingerprint-keyed window
    for the group representative."""
    from pyspark.sql import Window  # noqa: PLC0415

    fps = _audio_fp_frame(spark, sf_dir)
    return fps.withColumn(
        "rep_id",
        F.min("doc_id").over(Window.partitionBy("afp_hi", "afp_lo")),
    )


# The fingerprint-derivation CTE chain, parameterized over the raw-text
# source CTE (`{src}` must provide doc_id, text): exact integer energy
# sums over the 65-frame split, cross-multiplied comparisons, 64 bits
# packed into two 32-bit halves — the SQL twin of
# multimodal.audio_fingerprint_array specialized to the u8 PCM clips
# _wav_media builds (deviation from 128, the u8 zero-amplitude point).
_AUDIO_FP_CTES = """
b AS (
    SELECT doc_id,
           [abs(ord(c) - 128) for c in string_split_regex(text, '')] AS dev,
           octet_length(encode(text)) AS n
    FROM {src}
    WHERE octet_length(encode(text)) = length(text)
), f AS (SELECT * FROM b WHERE n >= 65),
frames AS (
    SELECT doc_id, i.i AS i,
           list_aggregate(dev[(i.i * n) // 65 + 1 : ((i.i + 1) * n) // 65],
                          'sum') AS e,
           ((i.i + 1) * n) // 65 - (i.i * n) // 65 AS c
    FROM f, (SELECT unnest(range(0, 65)) AS i) i
),
bits AS (
    SELECT a.doc_id, a.i,
           CASE WHEN b.e * a.c > a.e * b.c THEN 1 ELSE 0 END AS bit
    FROM frames a
    JOIN frames b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    WHERE a.i < 64
),
fps AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN i >= 32
                         THEN bit * (CAST(1 AS BIGINT) << (i - 32))
                         ELSE 0 END) AS BIGINT) AS afp_hi,
           CAST(SUM(CASE WHEN i < 32
                         THEN bit * (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS afp_lo
    FROM bits GROUP BY doc_id
)
"""

AUDIO_FP_SQL = (
    "WITH "
    + _AUDIO_FP_CTES.format(src="documents")
    + """
SELECT doc_id, afp_hi, afp_lo,
       MIN(doc_id) OVER (PARTITION BY afp_hi, afp_lo) AS rep_id
FROM fps
"""
)


def docs_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection over the acoustic fingerprint:
    DISTINCT-fingerprint groups (min-id representative + member count)
    paired when their 64-bit fingerprints sit within Hamming distance
    3, candidates from the same pigeonhole-complete 4x16-bit banding as
    SimHash/dHash (dedup.hamming_banded_pairs). Grouping BEFORE banding
    is the hot-group guard by construction — byte-identical clips share
    a fingerprint, so the band join sees each distinct fingerprint once
    and the m^2 identical-copy pathology cannot reach it.

    The corpus includes each clip's damaged-tail twin (see
    ``_wav_media``): the operator must recover every (original, twin)
    pair at Hamming <= 3 while unrelated clips sit far apart —
    planted-recovery is value-checked, not just thresholded."""
    fps = _audio_fp_frame(spark, sf_dir, with_twins=True)
    groups = fps.groupBy("afp_hi", "afp_lo").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_docs")
    )
    # The group frame is referenced 10x downstream (4 band self-joins x
    # 2 sides + the two n_docs joins); without materialization each
    # reference re-executes the Arrow decode pass over every payload
    # (AQE exchange reuse recovers some but not all — measured 5.02 ->
    # 3.86 s at sf0.1, more at sf1 where decode dominates). Tiny frame:
    # one row per DISTINCT fingerprint, 4 int columns.
    groups = groups.localCheckpoint(eager=True)
    sigs = groups.select(
        F.col("rep_id").alias("doc_id"),
        F.col("afp_lo").alias("sig_lo"),
        F.col("afp_hi").alias("sig_hi"),
    )
    pairs = dedup.hamming_banded_pairs(
        sigs, max_hamming=3, materialize=False  # groups checkpointed above
    ).select(
        F.col("doc_id_1").alias("rep_id_1"),
        F.col("doc_id_2").alias("rep_id_2"),
        "hamming",
    )
    n1 = groups.select(
        F.col("rep_id").alias("rep_id_1"), F.col("n_docs").alias("n_docs_1")
    )
    n2 = groups.select(
        F.col("rep_id").alias("rep_id_2"), F.col("n_docs").alias("n_docs_2")
    )
    return pairs.join(n1, "rep_id_1").join(n2, "rep_id_2").select(
        "rep_id_1", "rep_id_2", "hamming", "n_docs_1", "n_docs_2"
    )


AUDIO_NEAR_DUP_SQL = (
    """
WITH src AS (
    SELECT doc_id, text FROM documents
    WHERE octet_length(encode(text)) >= 65
      AND octet_length(encode(text)) = length(text)
    UNION ALL
    SELECT doc_id + 1000000000,
           substr(text, 1, (62 * n) // 65)
               || repeat('~', n - (62 * n) // 65)
    FROM (SELECT doc_id, text, octet_length(encode(text)) AS n
          FROM documents
          WHERE octet_length(encode(text)) = length(text))
    WHERE n >= 65
),
"""
    + _AUDIO_FP_CTES.format(src="src")
    + """,
groups AS (
    SELECT afp_hi, afp_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
    FROM fps GROUP BY 1, 2
)
SELECT a.rep_id AS rep_id_1, b.rep_id AS rep_id_2,
       CAST(bit_count(xor(a.afp_hi, b.afp_hi))
            + bit_count(xor(a.afp_lo, b.afp_lo)) AS INTEGER) AS hamming,
       a.n_docs AS n_docs_1, b.n_docs AS n_docs_2
FROM groups a JOIN groups b ON a.rep_id < b.rep_id
WHERE bit_count(xor(a.afp_hi, b.afp_hi))
      + bit_count(xor(a.afp_lo, b.afp_lo)) <= 3
"""
)


def streaming_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_audio_fingerprint's group election: audio
    clips arrive as a file stream (the crawler landing-zone shape),
    each micro-batch runs the SAME in-plan WAV construction + Arrow
    decode->fingerprint pass (mapInPandas composes under readStream),
    and the per-fingerprint group state — (min doc_id representative,
    member count) — is maintained incrementally in complete mode,
    drained with availableNow and hash-checked against the batch
    grouping oracle. State is one narrow row per DISTINCT fingerprint
    (the same state class as streaming_image_dedup); the drain is
    bounded to 8 shuffle partitions like the sketch streams."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = streaming.read_documents_stream(spark, sf_dir)
    eligible = docs.filter(F.octet_length("text") >= 65).select("doc_id", "text")
    groups = (
        multimodal.audio_fingerprint(_wav_media(eligible))
        .groupBy("afp_hi", "afp_lo")
        .agg(
            F.min("media_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    streaming.run_available_now(
        groups, "q_stream_audio_dedup", "complete", shuffle_partitions=8
    )
    return spark.table("q_stream_audio_dedup")


STREAM_AUDIO_DEDUP_SQL = (
    "WITH "
    + _AUDIO_FP_CTES.format(src="documents")
    + """
SELECT afp_hi, afp_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
FROM fps GROUP BY 1, 2
"""
)


# Y4M video geometry shared by the video-dedup queries and their SQL
# twins: 4 frames of the minimal 9x8 dHash grid (72 bytes each), so a
# document needs >= 288 bytes to fill a clip and every dHash box is
# exactly one pixel — the DuckDB twin reduces to 64 character compares
# per frame.
_Y4M_W, _Y4M_H, _Y4M_FRAMES = 9, 8, 4
_Y4M_FRAME_BYTES = _Y4M_W * _Y4M_H
_Y4M_MIN_BYTES = _Y4M_FRAME_BYTES * _Y4M_FRAMES


def _y4m_media(docs, with_twins: bool = False):
    """In-plan text -> genuine Y4M (YUV4MPEG2, Cmono 8-bit grayscale)
    construction over an eligibility-filtered (doc_id, text) frame:
    stream header literal + 4 x (FRAME marker + 72-char slice), pure
    codegen concat — the video analog of ``_wav_media``'s RIFF
    assembly. Callers must pre-filter to octet_length >= 288.

    ``with_twins`` adds each clip's re-cut twin (doc_id + 10^9): frames
    0-2 identical, frame 3 replaced by constant near-silence ('~' x 72)
    — the trailing-content swap (outro/credits/padding change) that
    frame-fingerprint video dedup exists to catch. The constant frame
    dHashes to (0,0) on EVERY twin, deliberately creating the hot
    shared-frame pathology the near-dup query's document-frequency
    guard must absorb.

    Non-ASCII docs are excluded up front (byte-sized eligibility +
    character-sliced frames are only consistent on ASCII; the SQL twins
    carry the same predicate — ADVICE round 6)."""
    docs = docs.filter(F.octet_length("text") == F.length("text"))
    if with_twins:
        twin_text = F.concat(
            F.substring("text", 1, _Y4M_FRAME_BYTES * (_Y4M_FRAMES - 1)),
            F.repeat(F.lit("~"), _Y4M_FRAME_BYTES),
        )
        docs = docs.select("doc_id", "text").unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                twin_text.alias("text"),
            )
        )
    header = F.lit(
        f"YUV4MPEG2 W{_Y4M_W} H{_Y4M_H} F25:1 Ip A1:1 Cmono\n".encode()
    )
    parts = [header]
    for f in range(_Y4M_FRAMES):
        parts.append(F.lit(b"FRAME\n"))
        parts.append(
            F.encode(
                F.substring("text", f * _Y4M_FRAME_BYTES + 1, _Y4M_FRAME_BYTES),
                "UTF-8",
            )
        )
    return docs.select(
        F.col("doc_id").alias("media_id"), F.concat(*parts).alias("payload")
    )


def _video_dhash_frame(spark: SparkSession, sf_dir: str, with_twins: bool = False):
    """Shared front half of the video-dedup queries: clips with enough
    bytes for 4 full frames through the in-plan Y4M construction and
    the NATIVE decode -> ``multimodal.video_frame_dhash`` Arrow path,
    returning (doc_id, frame_idx, dh_hi, dh_lo). dHash on the 9x8
    minimal grid is 64 single-pixel compares per frame, so DuckDB
    derives the identical bits straight from the characters."""
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    eligible = docs.filter(
        F.octet_length("text") >= _Y4M_MIN_BYTES
    ).select("doc_id", "text")
    return multimodal.video_frame_dhash(_y4m_media(eligible, with_twins)).select(
        F.col("media_id").alias("doc_id"), "frame_idx", "dh_hi", "dh_lo"
    )


def docs_video_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual hashing through the REAL video codec path:
    each eligible document becomes a genuine 4-frame Y4M grayscale clip
    (headers assembled in-plan), decoded by the native YUV4MPEG2 stream
    walker, every frame dHashed inside one Arrow pass — the
    frame-fingerprint primitive of content-based video dedup, and the
    third modality of the multimodal dedup matrix (image docs_image_
    dhash, audio docs_audio_fingerprint). Exact integer arithmetic
    end-to-end, value-checked against DuckDB computing the same bits
    from the characters."""
    return _video_dhash_frame(spark, sf_dir)


# The frame-hash derivation CTE chain, parameterized over the raw-text
# source (`{src}` must provide doc_id, text): 4 x 72-char frame slices,
# dHash on the 9x8 one-pixel-per-box grid = 64 character compares,
# bits packed into two 32-bit halves — the SQL twin of
# multimodal.video_frame_dhash over the clips _y4m_media builds.
_VIDEO_DHASH_CTES = """
f AS (
    SELECT doc_id, text FROM {src}
    WHERE octet_length(encode(text)) >= 288
      AND octet_length(encode(text)) = length(text)
),
frames AS (
    SELECT doc_id, fi.f AS frame_idx, substr(text, fi.f * 72 + 1, 72) AS fr
    FROM f, (SELECT unnest(range(0, 4)) AS f) fi
),
bits AS (
    SELECT doc_id, frame_idx, k.k AS k,
           CASE WHEN ord(substr(fr, (k.k // 8) * 9 + (k.k % 8) + 1, 1)) >
                     ord(substr(fr, (k.k // 8) * 9 + (k.k % 8) + 2, 1))
                THEN 1 ELSE 0 END AS bit
    FROM frames, (SELECT unnest(range(0, 64)) AS k) k
),
fhash AS (
    SELECT doc_id, frame_idx,
           CAST(SUM(CASE WHEN k >= 32
                         THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                         ELSE 0 END) AS BIGINT) AS dh_hi,
           CAST(SUM(CASE WHEN k < 32
                         THEN bit * (CAST(1 AS BIGINT) << k)
                         ELSE 0 END) AS BIGINT) AS dh_lo
    FROM bits GROUP BY 1, 2
)
"""

VIDEO_DHASH_SQL = (
    "WITH "
    + _VIDEO_DHASH_CTES.format(src="documents")
    + """
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, dh_hi, dh_lo
FROM fhash
"""
)

# Frame hashes shared by more videos than this are dropped before
# pairing: the common-frame pathology (intros, credits, constant/black
# frames) makes an equality join on a hot hash quadratic in its
# document frequency — the video analog of the n-gram max_df skew cap.
_VIDEO_MAX_DF = 8
# Candidate pairs must share at least this many distinct kept frame
# hashes (of the 4 per clip) to count as near-duplicates.
_VIDEO_MIN_SHARED = 2


def docs_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection by shared frame fingerprints:
    two clips pair when they share >= 2 distinct per-frame dHashes
    (after dropping frame hashes more frequent than the max_df guard) —
    the standard content-based video dedup shape (a shared-frame
    equality join is output-proportional; perceptual per-frame hashing
    makes re-encodes collide frame-for-frame).

    The corpus includes each clip's re-cut twin (see ``_y4m_media``):
    frames 0-2 shared, frame 3 a constant every twin maps to (0,0) —
    so the twins BOTH plant recoverable 3-shared-frame pairs AND
    saturate one hash past the document-frequency guard, proving the
    hot-frame cap engages without losing the planted pairs.

    Scale: ONE Arrow decode pass and ONE shuffle — frame hashes
    aggregate straight to their distinct-video sets (map-side partial
    collect_set union), the df guard is a size() filter on the set,
    and pairs expand IN-PLAN from each kept set (two chained explodes,
    <= df^2 <= 64 rows per hash) — no self-join, no second decode, no
    multi-referenced lineage to materialize. An earlier draft
    checkpointed the distinct (video, hash) frame and self-joined it;
    at 5M docs the 32M-row checkpoint plus three scan-backs ran 64-215
    s/run — this form runs 17 s (BASELINE.md)."""
    fh = _video_dhash_frame(spark, sf_dir, with_twins=True)
    sets = (
        fh.filter(F.col("dh_hi").isNotNull())
        .groupBy("dh_hi", "dh_lo")
        .agg(F.collect_set("doc_id").alias("vids"))
        .filter(
            (F.size("vids") <= _VIDEO_MAX_DF) & (F.size("vids") >= 2)
        )
    )
    return (
        sets.select(F.explode("vids").alias("vid_1"), "vids")
        .select("vid_1", F.explode("vids").alias("vid_2"))
        .filter(F.col("vid_1") < F.col("vid_2"))
        .groupBy("vid_1", "vid_2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _VIDEO_MIN_SHARED)
    )


VIDEO_NEAR_DUP_SQL = (
    """
WITH src AS (
    SELECT doc_id, text FROM documents
    WHERE octet_length(encode(text)) >= 288
      AND octet_length(encode(text)) = length(text)
    UNION ALL
    SELECT doc_id + 1000000000,
           substr(text, 1, 216) || repeat('~', 72)
    FROM documents WHERE octet_length(encode(text)) >= 288
      AND octet_length(encode(text)) = length(text)
),
"""
    + _VIDEO_DHASH_CTES.format(src="src")
    + """,
dh AS (SELECT DISTINCT doc_id, dh_hi, dh_lo FROM fhash),
keep AS (
    SELECT doc_id, dh_hi, dh_lo FROM dh
    QUALIFY COUNT(*) OVER (PARTITION BY dh_hi, dh_lo) <= 8
)
SELECT a.doc_id AS vid_1, b.doc_id AS vid_2,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM keep a
JOIN keep b ON a.dh_hi = b.dh_hi AND a.dh_lo = b.dh_lo
           AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""
)


def streaming_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming completion of the multimodal dedup triple: video clips
    arrive as a file stream, each micro-batch runs the SAME in-plan Y4M
    construction + Arrow decode->per-frame-dHash pass, and the
    per-frame-hash group state — (min video representative, frame
    count) — is maintained incrementally in complete mode, drained with
    availableNow and hash-checked against the batch grouping oracle.
    This is the landing-zone half of video dedup: the batch
    docs_video_near_dup pairs videos from exactly this per-hash
    grouping. State is one narrow row per DISTINCT frame hash; the
    drain is bounded to 8 shuffle partitions like the sketch streams."""
    from multi_report_etl_pipeline_spark import streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.operators import multimodal  # noqa: PLC0415

    docs = streaming.read_documents_stream(spark, sf_dir)
    eligible = docs.filter(
        F.octet_length("text") >= _Y4M_MIN_BYTES
    ).select("doc_id", "text")
    groups = (
        multimodal.video_frame_dhash(_y4m_media(eligible))
        .filter(F.col("dh_hi").isNotNull())
        .groupBy("dh_hi", "dh_lo")
        .agg(
            F.min("media_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_frames"),
        )
    )
    streaming.run_available_now(
        groups, "q_stream_video_dedup", "complete", shuffle_partitions=8
    )
    return spark.table("q_stream_video_dedup")


STREAM_VIDEO_DEDUP_SQL = (
    "WITH "
    + _VIDEO_DHASH_CTES.format(src="documents")
    + """
SELECT dh_hi, dh_lo, MIN(doc_id) AS rep_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames
FROM fhash GROUP BY 1, 2
"""
)


def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation composition — the extension
    family's analog of the reference's staging→report pipelines: score
    (quality + language-id + token count), filter (quality ≥ 0.5, known
    language), exact-dedup survivors (min doc_id per fingerprint, a
    min(struct) partial agg — map-side combine, the staging-layer
    pattern), then a deterministic 50% hash sample. One narrow scan
    pass computes every feature; the only shuffle carries the slim
    (fingerprint, survivor-struct) pairs. Value-level oracle-checked as
    a whole, so the composition — not just each piece — is pinned."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    surv = text.expand_curation_survivors(text.curation_survivors(docs))
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    return sampling.hash_sample(surv, "doc_id", 50)


def _curation_sql() -> str:
    return f"""
WITH feats AS (
    SELECT doc_id,
           md5({_NORM}) AS fingerprint,
           {_lang_case_sql()} AS lang_pred,
           len({_WORDS}) AS n_tokens,
           ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
           ROUND(CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS DOUBLE)
                 / CAST(len({_WORDS}) AS DOUBLE), 6) AS stopword_ratio
    FROM documents
),
scored AS (
    SELECT doc_id, fingerprint, lang_pred, n_tokens,
           ROUND(0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - punct_ratio)
               + 0.3 * least(stopword_ratio * 5, 1.0), 6) AS quality
    FROM feats
),
kept AS (
    SELECT * FROM scored WHERE quality >= 0.5 AND lang_pred <> 'unknown'
),
surv AS (
    SELECT doc_id, fingerprint, lang_pred, n_tokens, quality FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM kept
    ) WHERE rn = 1
)
SELECT doc_id, fingerprint, lang_pred, n_tokens, quality
FROM surv
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 50
"""


def docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk 64 / overlap 16) — the
    pre-training/RAG document splitter. Narrow map, bounded fan-out."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.chunk_tokens(docs, chunk_size=64, overlap=16)


_CHUNK, _CHUNK_OV = 64, 16
_CHUNK_STRIDE = _CHUNK - _CHUNK_OV
CHUNKS_SQL = f"""
WITH t AS (
    SELECT doc_id, {_WORDS} AS toks, len({_WORDS}) AS n FROM documents
),
c AS (
    SELECT doc_id, toks,
           unnest(range(0, greatest(1, CAST(floor((n - {_CHUNK_OV} + {_CHUNK_STRIDE - 1})
                                                  / CAST({_CHUNK_STRIDE} AS DOUBLE)) AS BIGINT))))
               AS chunk_id
    FROM t
)
SELECT doc_id, chunk_id,
       array_to_string(toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                            chunk_id * {_CHUNK_STRIDE} + {_CHUNK}], ' ') AS chunk_text,
       len(toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                chunk_id * {_CHUNK_STRIDE} + {_CHUNK}]) AS n_chunk_tokens
FROM c
"""


def docs_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-100 tokens by total occurrences with
    document frequency. One hash agg on token + TakeOrdered top-k."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.vocabulary(docs, k=100)


VOCABULARY_SQL = f"""
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest({_WORDS}) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


def docs_bigram_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top-100 — the n-gram LM statistic. Every
    occurrence counts (unlike the dedup shingles, which are per-doc
    distinct); same single-agg + TakeOrdered shape as the unigram
    vocabulary."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.vocabulary(docs, k=100, ngram=2)


BIGRAM_VOCAB_SQL = f"""
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (
    SELECT doc_id,
           unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS token
    FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
    WHERE len(w) >= 2
)
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by tf-idf (idf=ln(N/df)).
    The tf and df aggregations share the token hash partitioning; N is a
    broadcast 1-row aggregate; per-doc top-k is a WindowGroupLimit."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.tfidf_top_terms(docs, k_per_doc=5)


TFIDF_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf,
           ROUND(CAST(tf.tf AS DOUBLE)
                 * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank,
       token, tf, tfidf
FROM scored
QUALIFY rank <= 5
"""


def emb_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: min-id survivors of the
    cosine >= 0.4 similarity graph. Exact candidate generation here (the
    oracle-parity baseline); the LSH candidate path is pinned by recall
    tests (tests/test_llm_ops.py)."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    return similarity.cosine_dedup(emb, threshold=0.4).select("vec_id", "label")


COSINE_DEDUP_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.vec, b.vec)
          / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6)
          >= 0.4
)
SELECT e.vec_id, e.label FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)
"""


def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% document sample (operators/sampling.py): md5
    bucket of doc_id under the rate. Membership is a pure narrow filter
    both engines compute identically — hash-checked, not rows-only."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return sampling.hash_sample(docs, "doc_id", 10)


HASH_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 10
"""


# Declared training-mix weights for the mixture-sampling query: upsample
# the scarce "good" sources, pass one through, down-sample the bulk
# tail. Both the Spark CASE and the DuckDB oracle are generated from
# THIS dict, so the two sides cannot drift.
MIXTURE_RATES: dict[str, float] = {"src0": 2.5, "src1": 1.5, "src2": 1.0, "src3": 0.5}
MIXTURE_DEFAULT_RATE = 0.125


def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction (operators/sampling.py mixture_sample):
    per-source keep/repeat rates with deterministic fractional
    upsampling — src0 rows appear 2-3 times, the bulk tail keeps
    ~12.5%. copy_id distinguishes repeats; the oracle recomputes the
    md5-bucket arithmetic and the repeat expansion row-for-row."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return sampling.mixture_sample(
        docs, "doc_id", "source", MIXTURE_RATES, MIXTURE_DEFAULT_RATE
    )


def _mixture_sql() -> str:
    def split_rate(r: float) -> tuple[int, int]:
        base = int(r)
        return base, round((r - base) * 65536)

    base_arms = " ".join(
        f"WHEN '{s}' THEN {split_rate(r)[0]}" for s, r in sorted(MIXTURE_RATES.items())
    )
    thr_arms = " ".join(
        f"WHEN '{s}' THEN {split_rate(r)[1]}" for s, r in sorted(MIXTURE_RATES.items())
    )
    d_base, d_thr = split_rate(MIXTURE_DEFAULT_RATE)
    return f"""
WITH scored AS (
    SELECT doc_id, source, lang,
           (CASE source {base_arms} ELSE {d_base} END)
           + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                       < (CASE source {thr_arms} ELSE {d_thr} END)
                  THEN 1 ELSE 0 END AS n
    FROM documents
)
SELECT doc_id, source, lang, CAST(c AS BIGINT) AS copy_id
FROM scored, LATERAL unnest(range(1, n + 1)) AS t(c)
WHERE n >= 1
"""


def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) from the same
    16-bit md5 bucket the hash sampler uses — stable across engines,
    reruns, and ratio tuning (cumulative ranges only move boundaries)."""
    from multi_report_etl_pipeline_spark.operators.sampling import (  # noqa: PLC0415
        split_assignment,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return split_assignment(docs, "doc_id").select("doc_id", "lang", "split")


SPLIT_ASSIGNMENT_SQL = """
SELECT doc_id, lang,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
FROM (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS b
    FROM documents
)
"""


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 docs per language, picked by hash order — per-stratum
    row_number compiles to WindowGroupLimit (top-k pruned pre-shuffle)."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(docs, ["lang"], "doc_id", 50)


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang, sample_rank FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS sample_rank
    FROM documents
) t
WHERE sample_rank <= 50
"""


def docs_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign docs to 2048-token packs within 8
    hash shards (operators/sampling.py). fan_out parallelizes the
    token-count regex over the single-split local fixture."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return sampling.pack_by_token_budget(
        docs, "doc_id", text.token_count_ws("text"), budget=2048, n_shards=8
    )


TOKEN_PACKING_SQL = f"""
WITH t AS (
    SELECT doc_id, doc_id % 8 AS shard, len({_WORDS}) AS n_tokens
    FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / 2048.0) AS BIGINT) AS pack_id
FROM t
"""


# -------------------------------------------------------------- approx ---


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts — sketch values are engine-specific,
    so no oracle; accuracy is asserted in tests against exact counts."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch — rows-only for the driver; bounded-error
    assertion lives in tests."""
    ev = read_table(spark, sf_dir, "events")
    return ev.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("value_pcts")
    )


QUERIES: dict[str, QuerySpec] = {
    "docs_token_stats": QuerySpec(docs_token_stats, TOKEN_STATS_SQL),
    "docs_language_id": QuerySpec(docs_language_id, _lang_id_sql()),
    "docs_text_quality": QuerySpec(docs_text_quality, TEXT_QUALITY_SQL),
    "docs_curriculum_order": QuerySpec(docs_curriculum_order, CURRICULUM_SQL),
    "docs_pii_scrub": QuerySpec(docs_pii_scrub, _pii_sql()),
    "docs_fingerprint": QuerySpec(docs_fingerprint, FINGERPRINT_SQL),
    "docs_rolling_fingerprint": QuerySpec(docs_rolling_fingerprint, ROLLING_FP_SQL),
    "docs_exact_dedup": QuerySpec(docs_exact_dedup, EXACT_DEDUP_SQL),
    "docs_ngram_jaccard": QuerySpec(docs_ngram_jaccard, NGRAM_JACCARD_SQL),
    "docs_contamination": QuerySpec(docs_contamination, CONTAMINATION_SQL),
    "docs_fuzzy_contamination": QuerySpec(
        docs_fuzzy_contamination, FUZZY_CONTAMINATION_SQL
    ),
    "docs_minhash_near_dup": QuerySpec(docs_minhash_near_dup, MINHASH_SQL),
    "docs_minhash_estimate": QuerySpec(docs_minhash_estimate, MINHASH_ESTIMATE_SQL),
    "docs_simhash_near_dup": QuerySpec(docs_simhash_near_dup, SIMHASH_SQL),
    "emb_cosine_topk": QuerySpec(emb_cosine_topk, COSINE_TOPK_SQL),
    # emb_blocked_near_dup (the near-dup-pairs scale path) registers
    # below, after its unrolled-kmeans oracle generator is defined.
    # emb_lsh_ann is RETIRED from the registry (round 10, VERDICT r9
    # item 6): nine rounds as the only rows-only row while the
    # value-oracled ANN family (int8/IVF/PQ/indexed-IVF, recall-gated)
    # supersedes it in every serving regime. It stays test-only — the
    # recall gate in tests/test_llm_ops.py and the single-GEMM plan pin
    # in tests/test_plans.py still run it every pytest.
    "emb_label_centroids": QuerySpec(emb_label_centroids, CENTROIDS_SQL),
    "docs_media_features": QuerySpec(docs_media_features, MEDIA_FEATURES_SQL),
    "docs_image_decode": QuerySpec(docs_image_decode, IMAGE_DECODE_SQL),
    "docs_image_dhash": QuerySpec(docs_image_dhash, IMAGE_DHASH_SQL),
    "docs_dhash_near_dup": QuerySpec(docs_dhash_near_dup, DHASH_NEAR_DUP_SQL),
    "streaming_image_dedup": QuerySpec(
        streaming_image_dedup, STREAM_IMAGE_DEDUP_SQL
    ),
    "docs_audio_decode": QuerySpec(docs_audio_decode, AUDIO_DECODE_SQL),
    "docs_audio_fingerprint": QuerySpec(docs_audio_fingerprint, AUDIO_FP_SQL),
    "docs_audio_near_dup": QuerySpec(docs_audio_near_dup, AUDIO_NEAR_DUP_SQL),
    "docs_video_dhash": QuerySpec(docs_video_dhash, VIDEO_DHASH_SQL),
    "docs_video_near_dup": QuerySpec(docs_video_near_dup, VIDEO_NEAR_DUP_SQL),
    "streaming_audio_dedup": QuerySpec(streaming_audio_dedup, STREAM_AUDIO_DEDUP_SQL),
    "streaming_video_dedup": QuerySpec(streaming_video_dedup, STREAM_VIDEO_DEDUP_SQL),
    "docs_video_frames": QuerySpec(docs_video_frames, VIDEO_FRAMES_SQL),
    "docs_curation_pipeline": QuerySpec(docs_curation_pipeline, _curation_sql()),
    "docs_chunks": QuerySpec(docs_chunks, CHUNKS_SQL),
    "docs_vocabulary": QuerySpec(docs_vocabulary, VOCABULARY_SQL),
    "docs_bigram_vocabulary": QuerySpec(docs_bigram_vocabulary, BIGRAM_VOCAB_SQL),
    "docs_tfidf_top_terms": QuerySpec(docs_tfidf_top_terms, TFIDF_SQL),
    "emb_cosine_dedup": QuerySpec(emb_cosine_dedup, COSINE_DEDUP_SQL),
    "docs_hash_sample": QuerySpec(docs_hash_sample, HASH_SAMPLE_SQL),
    "docs_mixture_sample": QuerySpec(docs_mixture_sample, _mixture_sql()),
    "docs_split_assignment": QuerySpec(docs_split_assignment, SPLIT_ASSIGNMENT_SQL),
    "docs_stratified_sample": QuerySpec(docs_stratified_sample, STRATIFIED_SAMPLE_SQL),
    "docs_token_packing": QuerySpec(docs_token_packing, TOKEN_PACKING_SQL),
    "lineitem_approx_distinct": QuerySpec(approx_distinct, None),
    "events_value_percentiles": QuerySpec(value_percentiles, None),
}


# ------------------------------------------------- temporal / graph ops ---

TS6_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _clicks(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )


def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the latest preceding (or same-
    instant) click of the same user. Spark composition (union + sort +
    last-ignorenulls window) vs DuckDB's native ASOF JOIN oracle."""
    from multi_report_etl_pipeline_spark.operators.asof import asof_join_backward

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        purchases,
        _clicks(spark, sf_dir),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "click_ts", "click_event_id": "last_click_event_id"},
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS6_SPARK).alias("purchase_ts"),
        F.date_format("click_ts", TS6_SPARK).alias("last_click_ts"),
        # nullable int -> double: pandas materializes nullable ints
        # engine-dependently (float64+NaN vs Int64+NA); double is stable
        F.col("last_click_event_id").cast("double").alias("last_click_event_id"),
    )


ASOF_SQL = """
WITH clicks AS (
    SELECT user_id, ts, MAX(event_id) AS click_event_id
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
purchases AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts,
       CAST(c.click_event_id AS DOUBLE) AS last_click_event_id
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def events_clicks_before_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: clicks within the 5 minutes before each error,
    counted per user."""
    from multi_report_etl_pipeline_spark.operators.asof import range_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = range_join(
        errors,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        lower=F.expr("INTERVAL 5 MINUTES"),
        upper=F.expr("INTERVAL 0 SECONDS"),
    )
    return joined.groupBy(F.col("l.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("click_error_pairs")
    )


RANGE_JOIN_SQL = """
SELECT e.user_id AS user_id, COUNT(*) AS click_error_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts >= e.ts - INTERVAL 5 MINUTE
 AND c.ts < e.ts
GROUP BY 1
"""


def events_clicks_before_errors_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same range join via ``binned_range_join`` — the 100 TB path
    for low-selectivity keys: (key, time-bin) EQUI-join with the exact
    range predicate as a residual filter, so a hot key spreads over its
    time bins instead of hashing to one task. Same oracle as the plain
    range join — the rewrite must be invisible in the result."""
    from multi_report_etl_pipeline_spark.operators.asof import binned_range_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = binned_range_join(
        errors, clicks, key="user_id", left_ts="ts", right_ts="ts",
        lower_s=300.0, upper_s=0.0, bin_width_s=300.0,
    )
    return joined.groupBy(F.col("l.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("click_error_pairs")
    )


def docs_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact near-dup pairs -> dedup group ids
    (iterative min-label propagation; oracle = recursive CTE)."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return dedup.near_dup_components(pairs)


DEDUP_GROUPS_SQL = (
    "WITH pairs AS (\n"
    + NGRAM_JACCARD_SQL.strip()
    + "\n), sym AS (\n"
    "    SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs\n"
    "    UNION SELECT doc_id_2, doc_id_1 FROM pairs\n"
    "), reach AS (\n"
    "    WITH RECURSIVE r(src, dst) AS (\n"
    "        SELECT a, b FROM sym UNION SELECT r.src, s.b FROM r JOIN sym s ON r.dst = s.a\n"
    "    ) SELECT * FROM r\n"
    ")\n"
    "SELECT src AS doc_id, LEAST(MIN(dst), src) AS group_id FROM reach GROUP BY src"
)


def lineitem_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the hash-matchable
    counterpart of percentile_approx)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.99)"), 4).alias("p99"),
    )


QUANTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_quantity, 0.99), 4) AS p99
FROM lineitem GROUP BY 1
"""


_IVF_CELLS, _IVF_ITERS, _IVF_PROBE, _IVF_SAMPLE = 10, 3, 5, 20000


def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: portable-trained coarse quantizer (10 cells, 3 Lloyd
    rounds over the id-ordered bounded sample), probe the 5 nearest
    cells per query by squared-L2 (50% candidate cut), exact cosine
    top-10 inside them. The whole pipeline — training included — is
    under the VALUE-level DuckDB oracle (_ivf_sql unrolls the same
    iterations as chained CTEs, the technique emb_kmeans_clusters
    proved); mean top-10 recall >=0.7 vs brute force is additionally
    gated in tests/test_llm_ops.py. The fixtures are near-random 64-d
    vectors — the worst case for coarse quantization — so the probe
    fraction is high; clustered real-world embeddings get the same
    recall at a far smaller cut."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    queries = _topk_queries(emb)
    return similarity.ivf_topk(
        emb, queries, k=10, n_probe=_IVF_PROBE, centroids=_ivf_centroids(emb, sf_dir)
    )


def _ivf_centroids(emb: DataFrame, sf_dir: str) -> list:
    return artifacts.get(
        "ivf_centroids",
        sf_dir,
        ("embeddings",),
        lambda: similarity.train_centroids_portable(
            emb, n_cells=_IVF_CELLS, iters=_IVF_ITERS, train_sample=_IVF_SAMPLE
        ),
    )


def emb_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from a PERSISTED cell-partitioned IVF index
    (similarity.build_ivf_index -> ivf_topk_indexed): the corpus is
    written once partitioned by coarse cell (plus a quantizer sidecar),
    and each query batch's scan is partition-PRUNED to its probed cells
    — I/O proportional to the probe fraction, the serving layout a
    100 TB deployment actually uses (ivf_topk's per-call assignment is
    the one-shot audit shape). Same quantizer, probe ranking, GEMM
    prune, and exact rescore as emb_ivf_topk, so the SAME unrolled
    DuckDB oracle value-checks this path; row-identity with ivf_topk
    and the PartitionFilters pruning are additionally pinned in
    tests/. The index builds once per fixture fingerprint into an
    owned scratch dir of the artifact store — the build cost is the
    deployment's one-time indexing job, amortized across every query
    batch served from it; a regenerated fixture forces a rebuild and
    the superseded dir is deleted. The local scratch path serves only
    this single-JVM harness — a cluster deployment passes a shared
    filesystem path to build_ivf_index directly."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    queries = _topk_queries(emb)
    centroids = _ivf_centroids(emb, sf_dir)

    def build(owned: str) -> str:
        path = owned + "/index"
        similarity.build_ivf_index(emb, path, n_cells=_IVF_CELLS, centroids=centroids)
        return path

    path = artifacts.get(
        "ivf_index_path", sf_dir, ("embeddings",), build, scratch="ivf_index_"
    )
    return similarity.ivf_topk_indexed(spark, path, queries, k=10, n_probe=_IVF_PROBE)


def _ivf_sql(
    n_cells: int = _IVF_CELLS,
    iters: int = _IVF_ITERS,
    n_probe: int = _IVF_PROBE,
    train_sample: int = _IVF_SAMPLE,
    k: int = 10,
) -> str:
    """Unroll the ENTIRE IVF pipeline — quantizer training, corpus cell
    assignment, per-query probe, in-cell exact cosine top-k — as one
    DuckDB query, mirroring train_centroids_portable + ivf_topk
    choice-for-choice: id-ordered LIMIT sample, lowest-id init,
    ``iters`` Lloyd rounds with 6dp half-up centroid rounding and
    lowest-cid ties, squared-L2 probe ranking, (sim DESC, c_id ASC)
    final ranking. Surviving cluster ids keep their ORIGINAL cid (the
    Spark side tracks them through drop-out the same way)."""

    def dist(row: str, cent: str) -> str:
        return (
            f"list_dot_product({row}.v, {row}.v)"
            f" - 2 * list_dot_product({row}.v, {cent}.c)"
            f" + list_dot_product({cent}.c, {cent}.c)"
        )

    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"s AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {train_sample})",
        f"init AS (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT {n_cells})",
        "c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c"
        " FROM init)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, cid FROM ("
            f"SELECT s.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY s.vec_id ORDER BY {dist('s', 'c')}, c.cid) AS rn"
            f" FROM s CROSS JOIN c{t - 1} AS c) WHERE rn = 1)"
        )
        parts.append(
            f"c{t} AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
            f"SELECT cid, i, ROUND(AVG(x), 6) AS m FROM ("
            f"SELECT a{t}.cid, generate_subscripts(s.v, 1) AS i,"
            f" unnest(s.v) AS x"
            f" FROM a{t} JOIN s USING (vec_id))"
            f" GROUP BY cid, i) GROUP BY cid)"
        )
    parts += [
        # full-corpus cell assignment against the final centroids
        f"cell AS (SELECT vec_id, cid AS cell FROM ("
        f"SELECT e.vec_id, c.cid, ROW_NUMBER() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {dist('e', 'c')}, c.cid) AS rn"
        f" FROM e CROSS JOIN c{iters} AS c) WHERE rn = 1)",
        f"q AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id % 100 = 0 "
        f"ORDER BY vec_id LIMIT {_TOPK_MAX_Q})",
        f"probe AS (SELECT q_id, cid AS cell FROM ("
        f"SELECT q.q_id, c.cid, ROW_NUMBER() OVER ("
        f"PARTITION BY q.q_id ORDER BY {dist('q', 'c')}, c.cid) AS rn"
        f" FROM q CROSS JOIN c{iters} AS c) WHERE rn <= {n_probe})",
        "sims AS (SELECT p.q_id, e.vec_id AS c_id,"
        " list_dot_product(qv.v, e.v)"
        " / (sqrt(list_dot_product(qv.v, qv.v))"
        " * sqrt(list_dot_product(e.v, e.v))) AS sim"
        " FROM probe p JOIN q AS qv USING (q_id)"
        " JOIN cell ON cell.cell = p.cell"
        " JOIN e ON e.vec_id = cell.vec_id"
        " WHERE e.vec_id <> p.q_id)",
    ]
    tail = f"""SELECT q_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
            AS INTEGER) AS rank,
       c_id,
       ROUND(sim, 6) AS cosine_sim
FROM sims
QUALIFY rank <= {k}"""
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "events_asof_last_click": QuerySpec(events_asof_last_click, ASOF_SQL),
        "events_clicks_before_errors": QuerySpec(
            events_clicks_before_errors, RANGE_JOIN_SQL
        ),
        "events_clicks_before_errors_binned": QuerySpec(
            events_clicks_before_errors_binned, RANGE_JOIN_SQL
        ),
        "docs_dedup_groups": QuerySpec(docs_dedup_groups, DEDUP_GROUPS_SQL),
        "lineitem_quantity_quantiles": QuerySpec(
            lineitem_quantity_quantiles, QUANTILES_SQL
        ),
        "emb_ivf_topk": QuerySpec(emb_ivf_topk, _ivf_sql()),
        "emb_ivf_indexed_topk": QuerySpec(emb_ivf_indexed_topk, _ivf_sql()),
    }
)


_PQ_SUBS, _PQ_CODES, _PQ_ITERS, _PQ_SAMPLE, _PQ_CAND = 8, 64, 2, 20000, 100


def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): 8 subspaces x 64
    codewords trained by the portable Lloyd loop, corpus encoded to 8
    small codes per vector, ADC-scanned for 100 candidates per query,
    exact-cosine rescored to top-10 (0.92 mean recall on the worst-case
    near-random fixture; 4x16/50 measured 0.52). The compressed-scan
    complement to emb_ivf_topk's probe cut and emb_int8_topk's
    per-vector quantization: the ADC pass reads ~8 B/vector instead of
    256 B, and the candidate count is ABSOLUTE (100 per query at any
    corpus size, not a fraction). The
    ENTIRE pipeline — subspace codebook training included — is under
    the value-level DuckDB oracle (_pq_sql unrolls per-subspace
    training, encoding, ADC candidate ranking and the rescore); mean
    top-10 recall vs brute force is additionally gated in
    tests/test_llm_ops.py. Query set bounded by the same LIMIT-by-
    construction broadcast contract as emb_cosine_topk."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    queries = _topk_queries(emb)
    codebooks = artifacts.get(
        "pq_codebooks",
        sf_dir,
        ("embeddings",),
        lambda: similarity.train_pq_codebooks_portable(
            emb,
            m_sub=_PQ_SUBS,
            n_codes=_PQ_CODES,
            iters=_PQ_ITERS,
            train_sample=_PQ_SAMPLE,
        ),
    )
    return similarity.pq_topk(
        emb,
        queries,
        k=10,
        codebooks=codebooks,
        n_cand=_PQ_CAND,
        q_rows=_topk_query_rows(queries, sf_dir),
        max_q=_TOPK_MAX_Q,
    )


def _pq_sql(
    m_sub: int = _PQ_SUBS,
    n_codes: int = _PQ_CODES,
    iters: int = _PQ_ITERS,
    train_sample: int = _PQ_SAMPLE,
    n_cand: int = _PQ_CAND,
    k: int = 10,
) -> str:
    """Unroll the ENTIRE PQ pipeline as one DuckDB query, mirroring
    train_pq_codebooks_portable + pq_topk choice-for-choice: per
    subspace, the id-ordered LIMIT sample / lowest-id init / ``iters``
    Lloyd rounds with 6dp half-up rounding and lowest-cid ties (the
    _ivf_sql technique applied to each slice), then full-corpus
    encoding, per-(query, codeword) ADC partials with the exact
    ``ldp(s,s) - 2*ldp(s,c) + ldp(c,c)`` term order the JVM re-rank
    uses, candidate rank by (adc ASC, c_id ASC), exact-cosine rescore
    by (sim DESC, c_id ASC). Subspace slice bounds derive from the
    data (``len(v) // m_sub``), never hard-coded."""

    def sl(j: int) -> str:
        return (
            f"v[({j} * (len(v) // {m_sub}) + 1)"
            f":({j + 1} * (len(v) // {m_sub}))]"
        )

    def dist(row: str, cent: str) -> str:
        return (
            f"list_dot_product({row}.v, {row}.v)"
            f" - 2 * list_dot_product({row}.v, {cent}.c)"
            f" + list_dot_product({cent}.c, {cent}.c)"
        )

    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"s AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {train_sample})",
    ]
    for j in range(m_sub):
        parts += [
            f"s{j} AS (SELECT vec_id, {sl(j)} AS v FROM s)",
            f"init{j} AS (SELECT vec_id, v FROM s{j} ORDER BY vec_id"
            f" LIMIT {n_codes})",
            f"c{j}_0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,"
            f" v AS c FROM init{j})",
        ]
        for t in range(1, iters + 1):
            parts.append(
                f"a{j}_{t} AS (SELECT vec_id, cid FROM ("
                f"SELECT s{j}.vec_id, c.cid, ROW_NUMBER() OVER ("
                f"PARTITION BY s{j}.vec_id ORDER BY {dist(f's{j}', 'c')}, c.cid)"
                f" AS rn FROM s{j} CROSS JOIN c{j}_{t - 1} AS c) WHERE rn = 1)"
            )
            parts.append(
                f"c{j}_{t} AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
                f"SELECT cid, i, ROUND(AVG(x), 6) AS m FROM ("
                f"SELECT a{j}_{t}.cid, generate_subscripts(s{j}.v, 1) AS i,"
                f" unnest(s{j}.v) AS x"
                f" FROM a{j}_{t} JOIN s{j} USING (vec_id))"
                f" GROUP BY cid, i) GROUP BY cid)"
            )
        parts += [
            f"e{j} AS (SELECT vec_id, {sl(j)} AS v FROM e)",
            f"enc{j} AS (SELECT vec_id, cid FROM ("
            f"SELECT e{j}.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY e{j}.vec_id ORDER BY {dist(f'e{j}', 'c')}, c.cid)"
            f" AS rn FROM e{j} CROSS JOIN c{j}_{iters} AS c) WHERE rn = 1)",
        ]
    enc_joins = " ".join(f"JOIN enc{j} USING (vec_id)" for j in range(m_sub))
    enc_cols = ", ".join(f"enc{j}.cid AS k{j}" for j in range(m_sub))
    parts.append(
        f"enc AS (SELECT e.vec_id, {enc_cols} FROM e {enc_joins})"
    )
    parts.append(
        "q AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id % 100 = 0"
        f" ORDER BY vec_id LIMIT {_TOPK_MAX_Q})"
    )
    for j in range(m_sub):
        parts += [
            f"q{j} AS (SELECT q_id, {sl(j)} AS v FROM q)",
            f"lut{j} AS (SELECT q{j}.q_id, c.cid,"
            f" {dist(f'q{j}', 'c')} AS pd"
            f" FROM q{j} CROSS JOIN c{j}_{iters} AS c)",
        ]
    adc = " + ".join(f"l{j}.pd" for j in range(m_sub))
    lut_joins = "JOIN lut0 l0 ON l0.cid = enc.k0 " + " ".join(
        f"JOIN lut{j} l{j} ON l{j}.cid = enc.k{j} AND l{j}.q_id = l0.q_id"
        for j in range(1, m_sub)
    )
    parts.append(
        f"cand AS (SELECT q_id, c_id FROM ("
        f"SELECT l0.q_id, enc.vec_id AS c_id, ROW_NUMBER() OVER ("
        f"PARTITION BY l0.q_id ORDER BY {adc} ASC, enc.vec_id ASC) AS rn"
        f" FROM enc {lut_joins}"
        f" WHERE enc.vec_id <> l0.q_id) WHERE rn <= {n_cand})"
    )
    parts.append(
        "sims AS (SELECT cand.q_id, cand.c_id,"
        " list_dot_product(qv.v, e.v)"
        " / (sqrt(list_dot_product(qv.v, qv.v))"
        " * sqrt(list_dot_product(e.v, e.v))) AS sim"
        " FROM cand JOIN q AS qv USING (q_id)"
        " JOIN e ON e.vec_id = cand.c_id)"
    )
    tail = f"""SELECT q_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
            AS INTEGER) AS rank,
       c_id,
       ROUND(sim, 6) AS cosine_sim
FROM sims
QUALIFY rank <= {k}"""
    # MATERIALIZED: with default CTE inlining DuckDB's join-order
    # planner sees every subspace training chain duplicated under the
    # 8-lut candidate join and blows up combinatorially (the plain form
    # did not finish in 240 s at sf0.001; materialized runs in ~2 s).
    parts = [p.replace(" AS (", " AS MATERIALIZED (", 1) for p in parts]
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "emb_pq_topk": QuerySpec(emb_pq_topk, _pq_sql()),
    }
)


# ----------------------------------------------- repetition / clustering ---


def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filter signals (top-token
    fraction + duplicate bigram/trigram fractions + keep verdict).
    Narrow pure-codegen projection — no explode, no shuffle."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.repetition_stats(docs)


# The oracle takes the explode + groupBy route for the per-doc mode
# (DuckDB has no sorted-run fold) and list ops for the n-gram ratios;
# same values, different plan shape — which is the point of the check.
REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
top AS (
    SELECT doc_id, MAX(c) AS topc, SUM(c) AS n
    FROM (SELECT doc_id, token, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(w) AS token FROM t) GROUP BY 1, 2)
    GROUP BY doc_id
),
grams AS (
    SELECT doc_id,
           [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg,
           [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS tg
    FROM t
)
SELECT t.doc_id,
       len(t.w) AS n_tokens,
       ROUND(CAST(top.topc AS DOUBLE) / top.n, 6) AS top_token_frac,
       CASE WHEN len(bg) = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
       END AS dup_bigram_frac,
       CASE WHEN len(tg) = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 6)
       END AS dup_trigram_frac,
       CAST(ROUND(CAST(top.topc AS DOUBLE) / top.n, 6) <= 0.12
            AND (CASE WHEN len(bg) = 0 THEN 0.0
                      ELSE ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                                 / len(bg), 6) END) <= 0.05 AS INTEGER) AS keep
FROM t JOIN top USING (doc_id) JOIN grams USING (doc_id)
"""


_KMEANS_K, _KMEANS_ITERS = 8, 3


def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed Lloyd's k-means (k=8, 3 iterations) over the
    corpus — the iterative-algorithm path under the VALUE-level oracle
    (the SQL twin unrolls the same three iterations as chained CTEs).
    Semantic/embedding clustering is the curation primitive behind
    cluster-balanced sampling and semantic dedup."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    return similarity.distributed_kmeans(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)


def _kmeans_sql(
    k: int = _KMEANS_K,
    iters: int = _KMEANS_ITERS,
    tail: str | None = None,
) -> str:
    """Unroll ``iters`` Lloyd iterations as CTE chains: a{t} assigns
    against c{t-1} (argmin squared-L2, ties to the lowest cid), c{t}
    averages members per (cid, dim) rounded to 6 decimals — the same
    rounding the Spark plan applies, so both engines iterate from
    identical centroid matrices. The dimension is derived from the data
    (unnest + generate_subscripts expand the vector in lockstep), never
    hard-coded, so a fixture dim change cannot silently truncate the
    centroid average on the oracle side only."""
    dist = (
        "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    parts = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"f8 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})",
        "c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c"
        " FROM f8)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, cid FROM ("
            f"SELECT e.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn"
            f" FROM e CROSS JOIN c{t - 1} AS c) WHERE rn = 1)"
        )
        if t < iters:
            parts.append(
                f"c{t} AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
                f"SELECT cid, i, ROUND(AVG(x), 6) AS m FROM ("
                f"SELECT a{t}.cid, generate_subscripts(e.v, 1) AS i,"
                f" unnest(e.v) AS x"
                f" FROM a{t} JOIN e USING (vec_id))"
                f" GROUP BY cid, i) GROUP BY cid)"
            )
    tail = tail or (
        f"SELECT vec_id AS id, CAST(cid AS INTEGER) AS cluster FROM a{iters}"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "docs_repetition_stats": QuerySpec(docs_repetition_stats, REPETITION_SQL),
        "emb_kmeans_clusters": QuerySpec(emb_kmeans_clusters, _kmeans_sql()),
    }
)


def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document span dedup: 3-token spans, global
    first-occurrence-wins, reassembled cleaned docs."""
    from multi_report_etl_pipeline_spark.operators import dedup  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return dedup.span_dedup(docs, span_tokens=3)


SPAN_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
s0 AS (
    SELECT doc_id, w, CAST(ceil(len(w) / 3.0) AS BIGINT) AS n_spans,
           unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) AS span_idx
    FROM t
),
seg AS (
    SELECT doc_id, n_spans, span_idx,
           array_to_string(w[span_idx * 3 + 1 : span_idx * 3 + 3], ' ') AS span_text
    FROM s0
),
kept AS (
    SELECT * FROM (
        SELECT seg.*, ROW_NUMBER() OVER (
            PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
        FROM seg
    ) WHERE rn = 1
)
SELECT doc_id,
       string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
       COUNT(*) AS n_kept,
       MIN(n_spans) AS n_spans
FROM kept GROUP BY doc_id
"""


QUERIES.update(
    {
        "docs_span_dedup": QuerySpec(docs_span_dedup, SPAN_DEDUP_SQL),
    }
)


_BALANCED_M = 20


def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling — the semantic-curation composition:
    distributed k-means partitions the corpus by embedding geometry,
    then the deterministic per-stratum hash sampler keeps exactly
    min(m, |cluster|) ids per cluster. The balancing step rides the
    same WindowGroupLimit shape as ``docs_stratified_sample``: each
    task pre-prunes to m rows per cluster before the exchange."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    assign = similarity.distributed_kmeans(
        emb, k=_KMEANS_K, iters=_KMEANS_ITERS
    ).withColumnRenamed("id", "vec_id")
    return sampling.stratified_sample(assign, ["cluster"], "vec_id", _BALANCED_M)


_BALANCED_TAIL = f"""SELECT vec_id, cluster, sample_rank FROM (
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
           ROW_NUMBER() OVER (
               PARTITION BY cid
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           ) AS sample_rank
    FROM a{_KMEANS_ITERS}
) t
WHERE sample_rank <= {_BALANCED_M}"""


QUERIES.update(
    {
        "emb_cluster_balanced_sample": QuerySpec(
            emb_cluster_balanced_sample, _kmeans_sql(tail=_BALANCED_TAIL)
        ),
    }
)


_BM25_TERMS = ("spark", "window", "merge")


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval top-20 for a fixed query — quality-match
    mining (find corpus docs most like a target topic). One bounded
    stats pass (N/avgdl/df, no explode; cached per corpus snapshot —
    the persisted index-stats artifact, like the IVF quantizer) + one
    narrow scoring scan."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.bm25_topk(
        docs, list(_BM25_TERMS), k=20, stats=_bm25_stats(docs, sf_dir)
    )


def _bm25_stats(docs: DataFrame, sf_dir: str):
    return artifacts.get(
        "bm25_stats",
        sf_dir,
        ("documents",),
        lambda: text.bm25_corpus_stats(docs, list(_BM25_TERMS)),
    )


def _bm25_sql(terms: tuple[str, ...] = _BM25_TERMS, k: int = 20) -> str:
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(w, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    score = " + ".join(
        f"ln((c.n - c.df{i} + 0.5) / (c.df{i} + 0.5) + 1.0)"
        f" * tf{i} * 2.2 / (tf{i} + 1.2 * (0.25 + 0.75 * len(w) / c.avgdl))"
        for i in range(len(terms))
    )
    tfs = ", ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    return f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(w)) AS avgdl, {dfs} FROM t),
tf AS (SELECT doc_id, w, {tfs} FROM t),
s AS (SELECT doc_id, ROUND({score}, 6) AS bm25 FROM tf CROSS JOIN c)
SELECT doc_id, bm25 FROM s
WHERE bm25 > 0.0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


QUERIES.update(
    {
        "docs_bm25_topk": QuerySpec(docs_bm25_topk, _bm25_sql()),
    }
)


_WSAMPLE_K = 25


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus selection (operators/sampling.py
    weighted_sample): Efraimidis-Spirakis top-k without replacement,
    weight = n_chars/100 standing in for a per-document quality score
    (range ~[0.5, 5.5] — squarely inside the documented usable band).
    The oracle replays the identical keyed uniforms, pow, 9dp rounding,
    and (priority DESC, doc_id ASC) tie-break."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", (F.col("n_chars") / F.lit(100.0)).alias("weight")
    )
    return sampling.weighted_sample(docs, "doc_id", "weight", k=_WSAMPLE_K)


WEIGHTED_SAMPLE_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, source, n_chars / 100.0 AS weight,
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
            + 0.5) / 65536.0 AS u
    FROM documents
    WHERE n_chars / 100.0 > 0 AND NOT isnan(n_chars / 100.0)
),
p AS (
    SELECT doc_id, lang, source, weight,
           ROUND(POWER(u, 1.0 / weight), 9) AS priority
    FROM t
)
SELECT doc_id, lang, source, weight, priority,
       CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id ASC) AS INTEGER)
           AS sample_rank
FROM p
ORDER BY priority DESC, doc_id ASC
LIMIT {_WSAMPLE_K}
"""


QUERIES.update(
    {
        "docs_weighted_sample": QuerySpec(docs_weighted_sample, WEIGHTED_SAMPLE_SQL),
    }
)


_SEMDEDUP_T = 0.4


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the full value oracle: distributed k-means
    partitions the corpus, near-dups are pruned within clusters only
    (min-id survivor), and the DuckDB twin replays BOTH stages — the
    unrolled Lloyd CTEs plus a cluster-restricted pairwise-cosine tail.
    The O(n^2/k) scale path next to the exact-quadratic
    emb_cosine_dedup baseline."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    return similarity.semantic_dedup(
        emb, threshold=_SEMDEDUP_T, k=_KMEANS_K, iters=_KMEANS_ITERS
    ).select("vec_id", "label")


# leading comma: this tail CONTINUES the generator's WITH list with two
# more CTEs before its final SELECT
_SEMDEDUP_TAIL = f""", pairs AS (
    SELECT a.vec_id AS id_1, b.vec_id AS id_2
    FROM a{_KMEANS_ITERS} a
    JOIN a{_KMEANS_ITERS} b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
    WHERE ROUND(list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v))
             * sqrt(list_dot_product(eb.v, eb.v))), 6) >= {_SEMDEDUP_T}
),
dropped AS (SELECT DISTINCT id_2 FROM pairs)
SELECT emb.vec_id, emb.label FROM embeddings emb
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id_2 = emb.vec_id)"""


# Pair-emitting twin of _SEMDEDUP_TAIL for emb_blocked_near_dup: the
# `ap` CTE replays the Spark side's top-p multi-probe FINAL assignment
# (same dist expression and ORDER BY dist, cid tie-break as the a{t}
# chain, `rn <= p` instead of `= 1`), candidate pairs are DISTINCT
# cell-mates under it, and the verified pairs with the 6-dp exact
# cosine ARE the result. Leading comma: continues the kmeans
# generator's WITH list.
_BLOCKED_P = 3
_BLOCKED_DIST = (
    "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)"
    " + list_dot_product(c.c, c.c)"
)
_BLOCKED_PAIRS_TAIL = f""", ap AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
            PARTITION BY e.vec_id ORDER BY {_BLOCKED_DIST}, c.cid) AS rn
        FROM e CROSS JOIN c{_KMEANS_ITERS - 1} AS c) WHERE rn <= {_BLOCKED_P}
),
sims AS (
    SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2,
           ROUND(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v))
                * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine_sim
    FROM ap a
    JOIN ap b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
)
SELECT id_1, id_2, cosine_sim FROM sims WHERE cosine_sim >= {_SEMDEDUP_T}
ORDER BY id_1, id_2"""


QUERIES.update(
    {
        "emb_semantic_dedup": QuerySpec(
            emb_semantic_dedup, _kmeans_sql(tail=_SEMDEDUP_TAIL)
        ),
        "emb_blocked_near_dup": QuerySpec(
            emb_blocked_near_dup, _kmeans_sql(tail=_BLOCKED_PAIRS_TAIL)
        ),
    }
)


_LM_VOCAB = 16
_LM_BUCKETS = (6.25, 6.65)


def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality bucketing (text.unigram_logprob):
    per-doc cross-entropy under a truncated add-one corpus unigram LM,
    bucketed head/middle/tail. The V-row LM artifact is fit once per
    corpus snapshot and cached (like the BM25 stats row / IVF
    quantizer); scoring is one explode + broadcast-hash-join + per-doc
    partial agg — the corpus never shuffles, only one slim row per doc.
    Micro-nat integer log-probs make the sums exact across engines."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.unigram_logprob(
        docs, stats=unigram_lm(docs, sf_dir), buckets=_LM_BUCKETS
    )


def unigram_lm(docs: DataFrame, sf_dir: str):
    """The corpus LM artifact fit on ``docs`` (the documents table of
    ``sf_dir``), shared with the streaming scoring twin."""
    return artifacts.get(
        "unigram_lm",
        sf_dir,
        ("documents",),
        lambda: text.unigram_lm_stats(docs, vocab_size=_LM_VOCAB),
    )


def _unigram_logprob_sql(vocab_size: int = _LM_VOCAB) -> str:
    t1, t2 = _LM_BUCKETS
    return f"""
WITH tok AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
n AS (SELECT COUNT(*) AS n_total FROM tok),
vocab AS (SELECT token, COUNT(*) AS c FROM tok
          GROUP BY 1 ORDER BY COUNT(*) DESC, token ASC LIMIT {vocab_size}),
lm AS (SELECT v.token,
              CAST(ROUND(ln((v.c + 1.0) / (n.n_total + {vocab_size} + 1.0))
                         * 1000000) AS BIGINT) AS lp_micro
       FROM vocab v CROSS JOIN n),
scored AS (
    SELECT t.doc_id,
           COALESCE(l.lp_micro,
                    CAST(ROUND(ln(1.0 / (n.n_total + {vocab_size} + 1.0))
                               * 1000000) AS BIGINT)) AS lpm
    FROM tok t LEFT JOIN lm l USING (token) CROSS JOIN n
),
per AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lpm) AS s FROM scored GROUP BY 1),
ce AS (SELECT doc_id, n_tokens,
              ROUND(-(CAST(s AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE), 6)
                  AS cross_entropy
       FROM per)
SELECT doc_id, n_tokens, cross_entropy,
       CASE WHEN cross_entropy < {t1} THEN 'head'
            WHEN cross_entropy < {t2} THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM ce
"""


QUERIES.update(
    {
        "docs_unigram_logprob": QuerySpec(
            docs_unigram_logprob, _unigram_logprob_sql()
        ),
    }
)


_DSIR_BUCKETS = 1024
_DSIR_K = 40
_DSIR_TARGET = ("src0", "src1")


def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/sampling.py dsir_sample):
    select the 40 docs whose hashed-unigram distribution is most
    target-like, target = the src0/src1 slice. The ≤B-row estimator is
    fit once per corpus snapshot and cached (the persisted artifact
    pattern); scoring is explode → broadcast join → per-doc partial agg
    → TakeOrdered — the corpus never shuffles."""
    from multi_report_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    stats = artifacts.get(
        "dsir_stats",
        sf_dir,
        ("documents",),
        lambda: sampling.dsir_bucket_stats(
            docs, F.col("source").isin(*_DSIR_TARGET), n_buckets=_DSIR_BUCKETS
        ),
    )
    return sampling.dsir_sample(docs, k=_DSIR_K, stats=stats)


def _dsir_sql(n_buckets: int = _DSIR_BUCKETS, k: int = _DSIR_K) -> str:
    targets = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    return f"""
WITH tok AS (
    SELECT doc_id,
           CASE WHEN source IN ({targets}) THEN 1 ELSE 0 END AS is_t,
           CAST(('0x' || substr(md5(token), 1, 4)) AS INTEGER) % {n_buckets} AS bucket
    FROM (SELECT doc_id, source, unnest({_WORDS}) AS token FROM documents)
),
bc AS (SELECT bucket, COUNT(*) AS c_raw, SUM(is_t) AS c_t FROM tok GROUP BY 1),
tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_t) AS n_t FROM bc),
lr AS (SELECT bucket,
              CAST(ROUND(ln(((c_t + 1.0) / (tot.n_t + {n_buckets}))
                            / ((c_raw + 1.0) / (tot.n_raw + {n_buckets})))
                         * 1000000) AS BIGINT) AS lr_micro
       FROM bc CROSS JOIN tot),
per AS (SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(l.lr_micro) AS s
        FROM tok t LEFT JOIN lr l USING (bucket) GROUP BY 1)
SELECT doc_id, n_tokens, ROUND(CAST(s AS DOUBLE) / 1000000.0, 6) AS log_weight
FROM per
ORDER BY log_weight DESC, doc_id ASC
LIMIT {k}
"""


QUERIES.update(
    {
        "docs_dsir_sample": QuerySpec(docs_dsir_sample, _dsir_sql()),
    }
)


def emb_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-quantized embeddings for the same query
    set as emb_cosine_topk — the compressed-storage ANN serving path
    (4x scan bandwidth). Quantized dot products are exact integer
    arithmetic, so unlike LSH/IVF this approximate index sits under the
    full value oracle; recall vs the f32 exact baseline is gated in
    tests/test_llm_ops.py. Quantized query rows are cached per corpus
    snapshot like the other construction artifacts."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    # The am>0 zero-vector filter must run BEFORE the LIMIT so both sides
    # bound the SAME candidate set (the SQL twin's qz CTE filters am>0
    # before its LIMIT; limit-then-filter here would diverge if a
    # zero-magnitude embedding ever landed on a qualifying low vec_id).
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .filter(
            F.array_max(
                F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
            )
            > 0.0
        )
        .orderBy("vec_id")
        .limit(_TOPK_MAX_Q)
    )
    q_rows = artifacts.get(
        "int8_topk_queries",
        sf_dir,
        ("embeddings",),
        lambda: queries.select(
            F.col("vec_id").alias("q_id"),
            similarity.int8_quantize("embedding").alias("q_q8"),
        ).collect(),
    )
    return similarity.int8_topk(emb, queries, k=10, q_rows=q_rows)


INT8_TOPK_SQL = f"""
WITH v AS (SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS am
           FROM embeddings),
qz AS (SELECT vec_id,
              [CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / am) AS BIGINT) for x in embedding]
                  AS q8
       FROM v WHERE am > 0),
q AS (SELECT vec_id AS q_id, q8 AS q_q8 FROM qz WHERE vec_id % 100 = 0
     ORDER BY vec_id LIMIT {_TOPK_MAX_Q}),
sims AS (
    SELECT q_id, c.vec_id AS c_id,
           list_dot_product(CAST(q_q8 AS DOUBLE[]), CAST(c.q8 AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(q_q8 AS DOUBLE[]), CAST(q_q8 AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(c.q8 AS DOUBLE[]), CAST(c.q8 AS DOUBLE[]))))
               AS sim
    FROM qz c CROSS JOIN q WHERE c.vec_id <> q_id
)
SELECT q_id,
       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank,
       c_id,
       ROUND(sim, 6) AS int8_cosine
FROM sims
QUALIFY rank <= 10
"""


QUERIES.update(
    {
        "emb_int8_topk": QuerySpec(emb_int8_topk, INT8_TOPK_SQL),
    }
)


_BPE_MERGES = 6
_BPE_PASSES = 4


def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (text.bpe_train_merges): the
    top-6 learned merges with their pair counts. One corpus pass builds
    the word-frequency table; every merge iteration runs on that
    persisted Heaps'-bounded table. The DuckDB twin replays the whole
    training loop with the iterations unrolled as CTEs (the
    kmeans-oracle technique), so tokenizer TRAINING — not just
    application — sits under the value gate."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return text.bpe_train_merges(
        docs, n_merges=_BPE_MERGES, passes=_BPE_PASSES
    )


def _bpe_sql(
    n_merges: int = _BPE_MERGES,
    passes: int = _BPE_PASSES,
    tail: str | None = None,
) -> str:
    def rep_chain(col: str, pat: str, rpl: str) -> str:
        out = col
        for _ in range(passes):
            out = f"replace({out}, {pat}, {rpl})"
        return out

    ctes = [
        f"""w0 AS (
    SELECT ' ' || regexp_replace(token, '(.)', '\\1 ', 'g') AS rep, COUNT(*) AS cnt
    FROM (SELECT unnest({_WORDS}) AS token FROM documents)
    GROUP BY token)"""
    ]
    for i in range(n_merges):
        ctes.append(
            f"""p{i} AS (
    SELECT pair, SUM(cnt) AS c FROM (
        SELECT unnest([array_to_string(s[j:j+1], ' ') for j in range(1, len(s))])
                   AS pair,
               cnt
        FROM (SELECT string_split(trim(rep), ' ') AS s, cnt FROM w{i})
        WHERE len(s) >= 2
    ) GROUP BY pair)"""
        )
        ctes.append(
            f"""b{i} AS (
    SELECT pair, c,
           ' ' || pair || ' ' AS pat,
           ' ' || replace(pair, ' ', '') || ' ' AS rpl
    FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1)"""
        )
        if i < n_merges - 1:
            ctes.append(
                f"""w{i + 1} AS (
    SELECT {rep_chain("w.rep", "b.pat", "b.rpl")} AS rep, w.cnt
    FROM w{i} w CROSS JOIN b{i} b)"""
            )
    if tail is not None:
        return "WITH " + ",\n".join(ctes) + "\n" + tail
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS merge_rank, split_part(pair, ' ', 1) AS left_sym, "
        # CAST: SUM(cnt) is HUGEINT in DuckDB, which pandas materializes
        # as float64 ('4568.0' vs the Spark long's '4568') — the driver's
        # .df() comparison path would hash-mismatch on the text form.
        f"split_part(pair, ' ', 2) AS right_sym, CAST(c AS BIGINT) AS pair_count "
        f"FROM b{i}"
        for i in range(n_merges)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


QUERIES.update(
    {
        "docs_bpe_merges": QuerySpec(docs_bpe_merges, _bpe_sql()),
    }
)


def docs_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (text.bpe_apply_counts): per-doc word and
    BPE-token counts under the merges learned by docs_bpe_merges. The
    merge table is trained once per corpus snapshot and cached; the
    apply pass is a fully narrow map (chained literal replaces + one
    array fold — no join/explode/shuffle). The oracle replays training
    via the unrolled CTEs, then applies the same nested replaces."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    merges = artifacts.get(
        "bpe_merges",
        sf_dir,
        ("documents",),
        lambda: [
            (r["left_sym"], r["right_sym"])
            for r in text.bpe_train_merges(
                docs, n_merges=_BPE_MERGES, passes=_BPE_PASSES
            ).collect()
        ],
    )
    return text.bpe_apply_counts(docs, merges, passes=_BPE_PASSES)


def _bpe_tokenize_sql(
    n_merges: int = _BPE_MERGES, passes: int = _BPE_PASSES
) -> str:
    # nested replaces over every trained merge, innermost = merge 0 —
    # the same rank-order application bpe_apply_counts performs. The
    # CROSS JOINs are all 1-row (each b_i is a LIMIT 1); a corpus that
    # exhausts merges before n_merges would annihilate them, but the
    # paired Spark query trains on the same corpus and would have
    # produced the same shorter merge list — the docs_bpe_merges row
    # proves the merge tables agree first.
    expr = "' ' || regexp_replace(t, '(.)', '\\1 ', 'g')"
    for i in range(n_merges):
        for _ in range(passes):
            expr = f"replace({expr}, b{i}.pat, b{i}.rpl)"
    joins = " ".join(f"CROSS JOIN b{i}" for i in range(n_merges))
    tail = f"""SELECT doc_id,
       len(toks) AS n_words,
       CAST(list_sum(list_transform(toks,
            t -> len(string_split(trim({expr}), ' ')))) AS INTEGER)
           AS n_bpe_tokens
FROM (SELECT doc_id, {_WORDS} AS toks FROM documents) {joins}"""
    return _bpe_sql(n_merges, passes, tail=tail)


QUERIES.update(
    {
        "docs_bpe_tokenize": QuerySpec(docs_bpe_tokenize, _bpe_tokenize_sql()),
    }
)


# ------------------------------------------------- quality classifier ---

# Feature spec shared by the Spark query and the SQL twin: each entry is
# (name, DuckDB expression over the bound token array `wds`). The Spark
# side builds the same four features over the identically bound array,
# so the two engines train from bit-identical design matrices.
_EN_MARKERS = text.LANG_MARKERS["en"]
_LOGREG_FEATS: tuple[tuple[str, str], ...] = (
    ("x1", "len(wds) / 100.0"),
    ("x2", "CAST(length(array_to_string(wds, '')) AS DOUBLE) / len(wds)"),
    ("x3", "CAST(len(list_distinct(wds)) AS DOUBLE) / len(wds)"),
    (
        "x4",
        "CAST(len(list_filter(wds, t -> list_contains(["
        + ", ".join(f"'{m}'" for m in _EN_MARKERS)
        + "], t))) AS DOUBLE) / len(wds)",
    ),
)
_LOGREG_ITERS = 3


def logreg_features(docs: DataFrame) -> DataFrame:
    """The classifier's design matrix: (doc_id, y, x1..x4) — shared by
    the batch query and the streaming scoring twin, and the Spark mirror
    of the _LOGREG_FEATS SQL expressions (identically bound token
    array)."""
    base = docs.select(
        "doc_id", "lang", F.split(text.normalized("text"), " ").alias("wds")
    )
    en = F.array(*[F.lit(m) for m in _EN_MARKERS])
    n = F.size("wds")
    return base.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        (n / F.lit(100.0)).alias("x1"),
        (F.length(F.array_join("wds", "")).cast("double") / n).alias("x2"),
        (F.size(F.array_distinct("wds")).cast("double") / n).alias("x3"),
        (
            F.size(F.filter("wds", lambda t: F.array_contains(en, t))).cast(
                "double"
            )
            / n
        ).alias("x4"),
    )


def docs_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier head trained IN the engine: full-batch logistic
    regression (3 GD steps from w=0) over four cheap text features, with
    lang='en' as the supervision signal — the FineWeb-Edu / DCLM pattern
    of gating documents with a learned linear scorer. Every iteration is
    ONE partially aggregated corpus pass whose driver traffic is d+2
    floats; the DuckDB twin unrolls the same iterations as single-row
    weight CTEs (the emb_kmeans_clusters technique), so TRAINING — not
    just scoring — is value-oracled."""
    from multi_report_etl_pipeline_spark.operators import (  # noqa: PLC0415
        classifier,
    )

    feats = logreg_features(read_table(spark, sf_dir, "documents"))
    scored, _ = classifier.logistic_regression_train_score(
        feats, [name for name, _ in _LOGREG_FEATS], iters=_LOGREG_ITERS
    )
    return scored


def _logreg_sql(iters: int = _LOGREG_ITERS, lr: float | None = None) -> str:
    """Unroll ``iters`` GD steps as chained single-row CTEs: p{t} scores
    the corpus against w{t-1}, g{t} partial-aggregates the gradient,
    w{t} applies the 6-dp-rounded update — the same rounding the Spark
    side applies (classifier._round_half_away mimics DuckDB's
    half-away-from-zero double ROUND), so both engines iterate from
    identical weight vectors."""
    from multi_report_etl_pipeline_spark.operators import (  # noqa: PLC0415
        classifier,
    )

    lr = classifier.LOGREG_LR if lr is None else lr
    names = [n for n, _ in _LOGREG_FEATS]
    d = len(names)
    feat_sql = ", ".join(f"{expr} AS {n}" for n, expr in _LOGREG_FEATS)
    parts = [
        f"base AS (SELECT doc_id, lang, {_WORDS} AS wds FROM documents)",
        "feats AS (SELECT doc_id,"
        " CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
        f"{feat_sql} FROM base)",
        "w0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(d + 1)) + ")",
    ]

    def z(prev: int) -> str:
        return " + ".join(
            ["w.w0"] + [f"w.w{j + 1} * f.{n}" for j, n in enumerate(names)]
        )

    for t in range(1, iters + 1):
        cols = ", ".join(f"f.{n}" for n in names)
        parts.append(
            f"p{t} AS (SELECT f.y, {cols},"
            f" 1.0 / (1.0 + exp(-({z(t - 1)}))) AS p"
            f" FROM feats f CROSS JOIN w{t - 1} w)"
        )
        gsel = ", ".join(
            ["SUM(p - y) AS g0"]
            + [f"SUM((p - y) * {n}) AS g{j + 1}" for j, n in enumerate(names)]
        )
        parts.append(f"g{t} AS (SELECT {gsel}, COUNT(*) AS n FROM p{t})")
        wsel = ", ".join(
            f"ROUND(w.w{j} - {lr} * g.g{j} / g.n, 6) AS w{j}"
            for j in range(d + 1)
        )
        parts.append(f"w{t} AS (SELECT {wsel} FROM g{t} g CROSS JOIN w{t - 1} w)")
    score = f"ROUND(1.0 / (1.0 + exp(-({z(iters)}))), 6)"
    tail = (
        f"SELECT f.doc_id, {score} AS score,"
        f" CASE WHEN {score} >= 0.5 THEN 1 ELSE 0 END AS pred"
        f" FROM feats f CROSS JOIN w{iters} w"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "docs_quality_logreg": QuerySpec(docs_quality_logreg, _logreg_sql()),
    }
)


# ------------------------------------------------------ distributed PCA ---

_PCA_ITERS = 3


def emb_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA via power iteration: per-document projection onto
    the corpus's top principal component (embedding whitening / outlier
    surfacing). Corpus touched twice — one Arrow moment pass whose
    shuffle is bounded by task count (dim^2+dim+1 cells per batch) and
    one Exchange-free literal-fold scoring pass; the dim x dim
    covariance is the bounded driver artifact, and 6-dp rounding of the
    covariance and every normalized iterate makes the whole iteration
    engine-portable (value-oracled via unrolled CTEs, the
    kmeans/logreg technique)."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"), spark, cols=("vec_id",))
    return similarity.pca_power_scores(emb, iters=_PCA_ITERS)


def _pca_sql(iters: int = _PCA_ITERS) -> str:
    """Unrolled power iteration: moments from an exploded self-join,
    covariance via the same moment formula (M/n - outer(S/n, S/n))
    rounded to 6 dp, v0 = round6(1/sqrt(dim)), each iterate
    round6(Cv/|Cv|) — then per-row scores via list_dot_product minus
    the centering offset, exactly the Spark fold's index-order sum."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "u AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x"
        " FROM e)",
        "n AS (SELECT COUNT(*) AS c FROM e)",
        "s AS (SELECT i, SUM(x) AS s FROM u GROUP BY i)",
        "mu AS (SELECT i, ROUND(s / n.c, 6) AS m FROM s CROSS JOIN n)",
        "m2 AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS s"
        " FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2)",
        "c AS (SELECT m2.i, m2.j,"
        " ROUND(m2.s / n.c - (sa.s / n.c) * (sb.s / n.c), 6) AS cij"
        " FROM m2 CROSS JOIN n"
        " JOIN s sa ON sa.i = m2.i JOIN s sb ON sb.i = m2.j)",
        "d AS (SELECT len(v) AS dim FROM e LIMIT 1)",
        "v0 AS (SELECT i, ROUND(1.0 / sqrt(d.dim), 6) AS val"
        " FROM s CROSS JOIN d)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"w{t} AS (SELECT c.i, SUM(c.cij * v.val) AS w"
            f" FROM c JOIN v{t - 1} v ON c.j = v.i GROUP BY 1)"
        )
        parts.append(f"n{t} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w{t})")
        parts.append(
            f"v{t} AS (SELECT i, ROUND(w / nrm, 6) AS val"
            f" FROM w{t} CROSS JOIN n{t})"
        )
    parts.append(
        f"vfin AS (SELECT list(val ORDER BY i) AS vec FROM v{iters})"
    )
    parts.append(
        f"off AS (SELECT SUM(v.val * mu.m) AS o"
        f" FROM v{iters} v JOIN mu USING (i))"
    )
    tail = (
        "SELECT e.vec_id AS id,"
        " ROUND(list_dot_product(e.v, vfin.vec) - off.o, 6) AS pc1"
        " FROM e CROSS JOIN vfin CROSS JOIN off"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "emb_pca_projection": QuerySpec(emb_pca_projection, _pca_sql()),
    }
)


# ------------------------------------------- bloom decontamination ---


def docs_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom pre-screen — the 100 TB shape of
    the eval-leakage guard: the benchmark slice reduces to a 2 KB
    bitmask shipped as plan literals, the corpus side is a NARROW map
    (3 integer hashes + a bit test per shingle, no shuffle/join), and
    only bloom candidates reach the exact verification join. Same
    corpus/benchmark split as docs_contamination; emits candidate AND
    exactly-verified counts so the filter's false-positive behavior is
    itself value-checked."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.bloom_decontaminate(corpus, bench, n=4)


def _bloom_sql() -> str:
    """The bitmask modeled as its equivalent distinct-position set: a
    shingle is a candidate iff all three hash positions are present —
    identical semantics to the packed-word bit test."""
    mod, bits = dedup.MINHASH_MOD, dedup.BLOOM_BITS
    pos_exprs = [
        f"(({a} * h + {b}) % {mod}) % {bits}" for a, b in dedup.BLOOM_PERMS
    ]
    pos_list = ", ".join(pos_exprs)
    cand_cols = ", ".join(
        f"{e} AS p{i}" for i, e in enumerate(pos_exprs)
    )
    cand_test = " AND ".join(
        f"p{i} IN (SELECT p FROM pos)" for i in range(len(dedup.BLOOM_PERMS))
    )
    return f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_distinct([array_to_string(w[i:i+3], ' ')
                                 for i in range(1, len(w) - 2)])) AS shingle
    FROM toks WHERE len(w) >= 4
),
hashed AS (SELECT doc_id,
                  CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h
           FROM sh),
bench AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 50 = 0),
pos AS (SELECT DISTINCT unnest([{pos_list}]) AS p FROM bench),
corp AS (SELECT doc_id, h, {cand_cols} FROM hashed WHERE doc_id % 50 <> 0),
cand AS (SELECT doc_id, h FROM corp WHERE {cand_test})
SELECT doc_id, COUNT(*) AS n_candidate_ngrams,
       CAST(SUM(CASE WHEN h IN (SELECT h FROM bench) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shared_ngrams
FROM cand GROUP BY doc_id
"""


QUERIES.update(
    {
        "docs_bloom_decontaminate": QuerySpec(docs_bloom_decontaminate, _bloom_sql()),
    }
)


# ------------------------------------------------------ graph analytics ---

_PAGERANK_ITERS = 3


def docs_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph — the
    "canonical document" signal within duplicate neighborhoods
    (operators/graph.py). The rank vector stays distributed; each
    iteration is one edge⋈rank join + one destination-keyed partial
    agg, and 6-dp per-iteration rounding puts the whole iterative
    algorithm under the unrolled-CTE value oracle (the
    kmeans/logreg/PCA technique applied to a node-sized model)."""
    from multi_report_etl_pipeline_spark.operators import graph  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return graph.pagerank(pairs, iters=_PAGERANK_ITERS)


def _pagerank_sql(iters: int = _PAGERANK_ITERS) -> str:
    from multi_report_etl_pipeline_spark.operators import graph  # noqa: PLC0415

    d = graph.PAGERANK_DAMPING
    parts = [
        "pairs AS (\n" + NGRAM_JACCARD_SQL.strip() + "\n)",
        "edges AS (SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs"
        " UNION SELECT doc_id_2, doc_id_1 FROM pairs)",
        "deg AS (SELECT a, COUNT(*) AS d FROM edges GROUP BY 1)",
        "n AS (SELECT COUNT(*) AS c FROM deg)",
        "r0 AS (SELECT a, ROUND(1.0 / n.c, 6) AS r FROM deg CROSS JOIN n)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"r{t} AS (SELECT e.b AS a,"
            f" ROUND((1.0 - {d}) / (SELECT c FROM n)"
            f" + {d} * SUM(r.r / dg.d), 6) AS r"
            f" FROM edges e JOIN r{t - 1} r ON e.a = r.a"
            f" JOIN deg dg ON e.a = dg.a GROUP BY e.b)"
        )
    tail = f"SELECT a AS doc_id, r AS rank FROM r{iters}"
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "docs_pagerank": QuerySpec(docs_pagerank, _pagerank_sql()),
    }
)


def docs_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    near-dup pair graph (graph.triangle_stats) — the community-structure
    companion to docs_pagerank's centrality, sharing the same edge
    construction."""
    from multi_report_etl_pipeline_spark.operators import graph  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return graph.triangle_stats(pairs).orderBy("node")


def _triangle_sql() -> str:
    return (
        "WITH pairs AS (\n" + NGRAM_JACCARD_SQL.strip() + "\n),\n"
        """sym AS (SELECT doc_id_1 AS v, doc_id_2 AS n FROM pairs
       UNION ALL SELECT doc_id_2, doc_id_1 FROM pairs),
deg AS (SELECT v, COUNT(*) AS degree FROM sym GROUP BY 1),
wedge AS (
    SELECT x.v, x.n AS b, y.n AS c
    FROM sym x JOIN sym y ON x.v = y.v AND x.n < y.n
),
tri AS (
    SELECT w.v, COUNT(*) AS n_triangles
    FROM wedge w JOIN pairs p ON w.b = p.doc_id_1 AND w.c = p.doc_id_2
    GROUP BY 1
)
SELECT d.v AS node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN 2.0 * CAST(COALESCE(t.n_triangles, 0) AS DOUBLE)
                       / (CAST(d.degree AS DOUBLE)
                          * (CAST(d.degree AS DOUBLE) - 1.0))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg d LEFT JOIN tri t ON d.v = t.v
ORDER BY node
"""
    )


QUERIES.update(
    {
        "docs_triangle_stats": QuerySpec(docs_triangle_stats, _triangle_sql()),
    }
)


# ------------------------------------------- portable HLL sketch ---

_HLL_REGS = 256  # m: 2^8 registers, ~6.5% standard error
_HLL_SUFFIX_BITS = 40  # md5-48 = 8 register bits + 40 rank bits
# alpha_m * m^2 computed ONCE in Python and embedded as the same literal
# in both engines, so no float expression drift
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / _HLL_REGS)) * _HLL_REGS * _HLL_REGS


def lineitem_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog: the mergeable distinct-count sketch,
    built from scratch so it sits under a FULL value oracle (unlike
    approx_count_distinct, whose engine-internal sketch can never
    hash-match another engine). Flajolet et al. 2007 with md5-derived
    randomness: register = top 8 bits of the 48-bit md5 hash, rank =
    leading-zero count of the 40-bit suffix + 1.

    Scale shape — this IS the distributed sketch: the per-register MAX
    is a partial agg (map-side combine gives each task a 256-row
    sketch; merging sketches = elementwise max, exactly what the
    exchange does), then one single-row agg computes the harmonic-mean
    estimate IN-PLAN — no driver collect at all. The 2^-rank terms are
    exact dyadic rationals, so the harmonic sum is order-independent
    and bit-identical at any parallelism; the only float-library call
    is the small-range ln() correction, absorbed by 4-dp rounding."""
    li = read_table(spark, sf_dir, "lineitem")
    regs = hll_registers(li, F.col("l_orderkey").cast("string"))
    return hll_estimate(regs)


def hll_registers(df: DataFrame, key) -> DataFrame:
    """(reg, mr) register table for ``key`` — the distributed sketch
    itself; per-register MAX is the HLL merge, so this groupBy partial-
    aggregates map-side and the same expression incrementally maintains
    the sketch as streaming complete-mode state."""
    w = _HLL_SUFFIX_BITS
    h = dedup._md5_48(key)  # noqa: SLF001
    return (
        df.select(
            F.shiftright(h, w).alias("reg"),
            (h.bitwiseAND(F.lit((1 << w) - 1))).alias("low"),
        )
        .withColumn(
            "rank",
            F.when(F.col("low") == 0, F.lit(w + 1)).otherwise(
                F.lit(w + 1) - F.length(F.conv(F.col("low"), 10, 2))
            ),
        )
        .groupBy("reg")
        .agg(F.max("rank").alias("mr"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Harmonic-mean estimate over a (reg, mr) register table — one
    single-row in-plan aggregation, shared by the batch query and the
    streaming twin's drained sink."""
    m = _HLL_REGS
    est_raw = F.lit(_HLL_ALPHA_M2) / F.col("s")
    small = (F.col("v") > 0) & (est_raw <= 2.5 * m)
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v"))
    return (
        regs.agg(
            (
                F.sum(F.pow(F.lit(2.0), -F.col("mr")))
                + (F.lit(m) - F.count(F.lit(1))).cast("double")
            ).alias("s"),
            (F.lit(m) - F.count(F.lit(1))).cast("double").alias("v"),
        )
        .select(
            F.round(F.when(small, linear).otherwise(est_raw), 4).alias(
                "hll_estimate"
            ),
            F.col("v").cast("long").alias("zero_registers"),
        )
    )


def hll_sql(table: str, key: str) -> str:
    """The DuckDB HLL twin over ``table``.``key`` — shared by the batch
    lineitem query and the streaming events twin."""
    return f"""
WITH h AS (
    SELECT CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 12)
                AS BIGINT) AS hv
    FROM {table}
),
regs AS (
    SELECT hv >> {_HLL_SUFFIX_BITS} AS reg,
           MAX(CASE WHEN (hv & {(1 << _HLL_SUFFIX_BITS) - 1}) = 0
                    THEN {_HLL_SUFFIX_BITS + 1}
                    ELSE {_HLL_SUFFIX_BITS + 1}
                         - length(bin(hv & {(1 << _HLL_SUFFIX_BITS) - 1}))
               END) AS mr
    FROM h GROUP BY 1
),
agg AS (
    SELECT SUM(POWER(2.0, -mr))
               + CAST({_HLL_REGS} - COUNT(*) AS DOUBLE) AS s,
           CAST({_HLL_REGS} - COUNT(*) AS DOUBLE) AS v
    FROM regs
)
SELECT ROUND(CASE WHEN v > 0 AND {_HLL_ALPHA_M2!r} / s <= 2.5 * {_HLL_REGS}
                  THEN {_HLL_REGS}.0 * ln({_HLL_REGS}.0 / v)
                  ELSE {_HLL_ALPHA_M2!r} / s END, 4) AS hll_estimate,
       CAST(v AS BIGINT) AS zero_registers
FROM agg
"""


HLL_SQL = hll_sql("lineitem", "l_orderkey")


QUERIES.update(
    {
        "lineitem_hll_distinct": QuerySpec(lineitem_hll_distinct, HLL_SQL),
    }
)


# ------------------------------------- portable quantile sketch ---

_QBINS = 1000
_QUANTS = (0.5, 0.9, 0.99)
_QLABELS = {0.5: "p50", 0.9: "p90", 0.99: "p99"}


def events_value_bounds(spark: SparkSession, sf_dir: str) -> tuple | None:
    """(min, max) of events.value: the frozen bin bounds shared by the
    binned-percentile query and its streaming twin. None for an empty
    table (not stored: the table may be populated later)."""

    def bounds():
        row = (
            read_table(spark, sf_dir, "events")
            .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
            .collect()[0]
        )
        return None if row["mn"] is None else (float(row["mn"]), float(row["mx"]))

    return artifacts.get("events_value_bounds", sf_dir, ("events",), bounds)


def events_binned_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable quantile sketch: a fixed-width histogram (the
    mergeable quantile summary — per-bin counts partial-agg and merge
    by addition, exactly like the HLL registers) with linear
    interpolation inside the hit bin. Companion to
    events_value_percentiles (approx_percentile), whose engine-internal
    sketch can never hash-match another engine; this one is
    deterministic double arithmetic end-to-end and sits under a FULL
    value oracle. Error is bounded by one bin width of the value range.

    Plan shape: the value bounds are a FROZEN per-dataset construct
    (round 9, VERDICT r8 item 7) — computed once per fixture
    fingerprint as a 1-row aggregate and embedded as plan literals (the
    same frozen-bin-bounds pattern the streaming twin uses, and the
    same artifact-store posture as the IVF centroids: a dataset
    statistic persists with the dataset, it isn't re-derived per
    query). That folds the old bounds-scan + histogram-scan double pass
    (two full reads of the same column — the no-exchange-reuse trap)
    into ONE scan per execution: a <=nbins-group partial agg, a bounded
    cumulative window over <=nbins rows, and one final 1-row
    aggregation that picks each quantile's first bin with
    cum >= ceil(q*n) and interpolates. Values are bit-identical to the
    in-plan-bounds form (the bounds are the same doubles either way).
    Parquet footer MIN/MAX for the bounds is a verified negative:
    Spark won't push min/max aggregates over doubles (NaN ordering)."""
    from pyspark.sql import Window  # noqa: PLC0415

    ev = read_table(spark, sf_dir, "events").select("value")
    bounds = events_value_bounds(spark, sf_dir)
    # empty events table: build the plan with dummy bounds and return it
    # row-free so the degradation matches the old in-plan-broadcast-bounds
    # form (ADVICE round 9)
    empty_input = bounds is None
    mn_v, mx_v = bounds or (0.0, 1.0)
    nb = _QBINS
    width = (F.lit(mx_v) - F.lit(mn_v)) / F.lit(float(nb))
    binned = ev.select(
        F.least(
            F.floor((F.col("value") - F.lit(mn_v)) / width).cast("long"),
            F.lit(nb - 1),
        ).alias("bin"),
        F.lit(mn_v).alias("mn"),
        F.lit(mx_v).alias("mx"),
    )
    hist = binned.groupBy("bin", "mn", "mx").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    )
    outs = []
    for q in _QUANTS:
        target = F.ceil(F.lit(q) * F.col("n"))
        hit = F.min(
            F.when(
                F.col("cum") >= target,
                F.struct("bin", "cum", "cnt", "mn", "mx", "n"),
            )
        ).alias("h")
        est = (
            F.col("h.mn")
            + ((F.col("h.mx") - F.col("h.mn")) / F.lit(float(nb)))
            * (
                F.col("h.bin").cast("double")
                + (
                    F.ceil(F.lit(q) * F.col("h.n")) - (F.col("h.cum") - F.col("h.cnt"))
                ).cast("double")
                / F.col("h.cnt").cast("double")
            )
        )
        outs.append((q, hit, est))
    agged = cum.agg(*[o[1].alias(f"h{i}") for i, o in enumerate(outs)])
    sel = []
    for i, (q, _, _) in enumerate(outs):
        h = f"h{i}"
        est = (
            F.col(f"{h}.mn")
            + ((F.col(f"{h}.mx") - F.col(f"{h}.mn")) / F.lit(float(nb)))
            * (
                F.col(f"{h}.bin").cast("double")
                + (
                    F.ceil(F.lit(q) * F.col(f"{h}.n"))
                    - (F.col(f"{h}.cum") - F.col(f"{h}.cnt"))
                ).cast("double")
                / F.col(f"{h}.cnt").cast("double")
            )
        )
        sel.append(F.round(est, 6).alias(_QLABELS[q]))
    out = agged.select(*sel)
    return out.limit(0) if empty_input else out


BINNED_PCTL_SQL = f"""
WITH bounds AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
binned AS (
    SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / {float(_QBINS)})) AS BIGINT),
                 {_QBINS - 1}) AS bin, mn, mx
    FROM events CROSS JOIN bounds
),
hist AS (SELECT bin, mn, mx, COUNT(*) AS cnt FROM binned GROUP BY 1, 2, 3),
cum AS (
    SELECT bin, mn, mx, cnt,
           SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cnt) OVER () AS n
    FROM hist
)
SELECT
{",".join(
    f'''    ROUND(arg_min(
        mn + ((mx - mn) / {float(_QBINS)})
           * (CAST(bin AS DOUBLE)
              + CAST(CEIL({q} * n) - (cum - cnt) AS DOUBLE)
                / CAST(cnt AS DOUBLE)), bin)
        FILTER (WHERE cum >= CEIL({q} * n)), 6) AS {_QLABELS[q]}'''
    for q in _QUANTS
)}
FROM cum
"""


QUERIES.update(
    {
        "events_binned_percentiles": QuerySpec(
            events_binned_percentiles, BINNED_PCTL_SQL
        ),
    }
)


# ------------------------------------ portable count-min sketch ---

# Cormode & Muthukrishnan 2005: depth x width counter matrix, point
# query = min over depth rows. 4x1024 bounds overestimate error by
# ~2n/1024 with probability 1 - 2^-4 per probe.
_CMS_DEPTH = 4
_CMS_WIDTH = 1024
# A probe set fixed as literals in BOTH plans: frequent fixture tokens,
# a mid-frequency tail, and one absent token so the pure-collision
# estimate (>= 0, never negative) is itself value-checked.
_CMS_PROBES = (
    "table", "value", "fast", "scan", "row", "data",
    "window", "agg", "key", "spark", "query", "zzz_absent",
)


def _cms_pos(token, j: int):
    """Row-j counter position: first 48 md5 bits of 'j:token' mod width —
    the same engine-portable hash convention as MinHash/HLL (DuckDB:
    CAST('0x' || substr(md5(j || ':' || token), 1, 12) AS BIGINT))."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), token).cast("binary")), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return h % _CMS_WIDTH


def docs_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable count-min sketch over the corpus token stream,
    completing the mergeable-sketch family (HLL = distinct, binned
    histogram = quantiles, CMS = frequency). The sketch IS a partial
    aggregation: each task builds its own <= depth*width counter matrix
    and the exchange merges sketches by addition — the exact merge
    operator the CMS paper defines — so the full corpus costs one
    vocab-keyed agg (Heaps'-bounded, shared with the exact counts the
    output exposes for the overestimate guarantee) plus one
    <= 4096-cell agg. Probes resolve via a broadcast join against the
    bounded sketch; est = MIN over depth rows, NULL cells count 0.
    Emits (token, exact_count, cms_estimate) so the one-sided
    est >= exact guarantee is value-checked in BOTH engines."""
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(text.words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = counts.select(
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"),
                        _cms_pos(F.col("token"), j).alias("p"),
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    )
    sketch = cells.groupBy(
        F.col("cell.r").alias("r"), F.col("cell.p").alias("p")
    ).agg(F.sum("c").alias("cnt"))
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("token")
    )
    pcells = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"),
                        _cms_pos(F.col("token"), j).alias("p"),
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("token", F.col("cell.r").alias("r"), F.col("cell.p").alias("p"))
    est = (
        pcells.join(F.broadcast(sketch), ["r", "p"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )
    exact = probes.join(F.broadcast(counts), "token", "left").select(
        "token", F.coalesce(F.col("c"), F.lit(0)).alias("exact_count")
    )
    return (
        est.join(exact, "token")
        .select("token", "exact_count", "cms_estimate")
        .orderBy("token")
    )


def _cms_sql() -> str:
    probes = ", ".join(f"'{t}'" for t in _CMS_PROBES)
    js = ", ".join(str(j) for j in range(_CMS_DEPTH))
    pos = (
        "CAST('0x' || substr(md5(j || ':' || token), 1, 12) AS BIGINT) "
        f"% {_CMS_WIDTH}"
    )
    return f"""
WITH toks AS (SELECT unnest({_WORDS}) AS token FROM documents),
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
js AS (SELECT unnest([{js}]) AS j),
cells AS (SELECT j, {pos} AS p, c FROM counts CROSS JOIN js),
sketch AS (SELECT j AS r, p, CAST(SUM(c) AS BIGINT) AS cnt
           FROM cells GROUP BY 1, 2),
probes AS (SELECT unnest([{probes}]) AS token),
pcells AS (SELECT token, j AS r, {pos} AS p FROM probes CROSS JOIN js),
est AS (SELECT token, MIN(COALESCE(cnt, 0)) AS cms_estimate
        FROM pcells LEFT JOIN sketch USING (r, p) GROUP BY 1),
exact AS (SELECT p.token, COALESCE(c, 0) AS exact_count
          FROM probes p LEFT JOIN counts USING (token))
SELECT token, exact_count, cms_estimate
FROM est JOIN exact USING (token)
ORDER BY token
"""


QUERIES.update(
    {
        "docs_cms_frequencies": QuerySpec(docs_cms_frequencies, _cms_sql()),
    }
)


# ----------------------------------------- exact substring dedup ---

_RUNS_K = 4


def docs_duplicate_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, Lee et al. 2021 (dedup.duplicate_runs):
    maximal duplicated token runs >= k, first occurrence kept. The
    k-gram-anchored distributed formulation of the paper's
    suffix-array pass."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    return dedup.duplicate_runs(docs, k=_RUNS_K).orderBy("doc_id", "run_start")


DUPLICATE_RUNS_SQL = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
g AS (
    SELECT doc_id, pos,
           array_to_string(w[pos + 1 : pos + {_RUNS_K}], ' ') AS gram
    FROM (SELECT doc_id, w,
                 unnest(range(0, len(w) - {_RUNS_K} + 1)) AS pos
          FROM t WHERE len(w) >= {_RUNS_K})
),
r AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY gram
                                  ORDER BY doc_id, pos) AS rn
        FROM g
    ) WHERE rn > 1
),
fl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) <= {_RUNS_K}
                THEN 0 ELSE 1 END AS brk
    FROM r
),
isl AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM fl
)
SELECT doc_id, MIN(pos) AS run_start,
       MAX(pos) + {_RUNS_K} - 1 AS run_end,
       COUNT(*) AS n_dup_grams
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, run_start
"""


QUERIES.update(
    {
        "docs_duplicate_runs": QuerySpec(docs_duplicate_runs, DUPLICATE_RUNS_SQL),
    }
)


def docs_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXCISE half of exact substring dedup (docs_duplicate_runs is
    the detect half): every token position covered by a duplicated run
    is cut, survivors reassemble in order — the Lee et al. 2021 rewrite
    applied, emitting (doc_id, clean_text, n_kept). Fully-excised docs
    vanish in both engines; docs with no duplicated runs pass through
    intact.

    Scale: the cut is a per-doc RANGE anti-join of token positions
    against that doc's few runs (doc-equi + pos-between — each doc's
    probe side is its own runs, so the join is doc-local), and
    reassembly is the span_dedup doc-keyed agg whose state is bounded
    by the doc itself."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    runs = dedup.duplicate_runs(docs, k=_RUNS_K)
    toks = docs.select(
        "doc_id", F.posexplode(text.words("text")).alias("pos", "tok")
    )
    r = runs.select(
        F.col("doc_id").alias("r_doc"), "run_start", "run_end"
    )
    kept = toks.join(
        r,
        (F.col("doc_id") == F.col("r_doc"))
        & F.col("pos").between(F.col("run_start"), F.col("run_end")),
        "left_anti",
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("pos").alias("i"), F.col("tok").alias("t")))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(" ", F.transform(ordered, lambda x: x["t"])).alias(
                "clean_text"
            ),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


SUBSTRING_CLEAN_SQL = (
    "WITH runs AS (\n"
    + DUPLICATE_RUNS_SQL.replace("ORDER BY doc_id, run_start", "").strip()
    + "\n),\n"
    + f"""t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
toks AS (
    SELECT doc_id, pos, w[pos + 1] AS tok
    FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM t)
),
kept AS (
    SELECT tk.doc_id, tk.pos, tk.tok
    FROM toks tk
    LEFT JOIN runs r ON tk.doc_id = r.doc_id
                    AND tk.pos BETWEEN r.run_start AND r.run_end
    WHERE r.doc_id IS NULL
)
SELECT doc_id,
       string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       COUNT(*) AS n_kept
FROM kept GROUP BY doc_id
ORDER BY doc_id
"""
)


QUERIES.update(
    {
        "docs_substring_clean": QuerySpec(docs_substring_clean, SUBSTRING_CLEAN_SQL),
    }
)


# ------------------------------------ hash-embed + retrieval (RAG) ---

_HE_DIM = text.HASH_EMBED_DIM
_HE_QUERY_DOC = 0
_HE_K = 10


def _hash_embed_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, cosine): every document scored against the fixed query
    document's feature-hash vector — the shared scoring frame behind
    docs_hash_embed_topk and the hybrid-RRF fusion row."""
    emb = docs.select(
        "doc_id", text.hash_embedding("text", _HE_DIM).alias("v")
    )
    q = (
        emb.filter(F.col("doc_id") == _HE_QUERY_DOC)
        .select(F.col("v").alias("qv"))
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    # zero-norm rows get a NULL cosine INSIDE the projection and sort
    # last — a `_n1 > 0` FILTER would re-evaluate the whole embedding
    # fold in the scan-stage predicate (filters get no subexpression
    # elimination; the plan pin in test_plans.py guards this)
    scored = (
        emb.join(F.broadcast(q))
        .select(
            "doc_id",
            dot.alias("_dot"),
            sq(F.col("v")).alias("_n1"),
            sq(F.col("qv")).alias("_n2"),
        )
        .select(
            "doc_id",
            F.when(
                (F.col("_n1") > 0) & (F.col("_n2") > 0),
                F.round(
                    F.col("_dot").cast("double")
                    / (
                        F.sqrt(F.col("_n1").cast("double"))
                        * F.sqrt(F.col("_n2").cast("double"))
                    ),
                    6,
                ),
            ).alias("cosine"),
        )
    )
    return scored


def docs_hash_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> vector -> retrieval INSIDE the engine: feature-hash every
    document (text.hash_embedding — a narrow integer map, no learned
    weights, so the whole pipeline is value-oracled), then exact cosine
    top-k against the query document's vector. Integer dot products are
    exact in both engines; only the final norm division is float,
    absorbed by 6-dp rounding.

    Plan: scan -> narrow embed -> broadcast of the 1-row query vector
    -> narrow cosine fold -> TakeOrdered. The only exchange is the
    broadcast; retrieval over 100 TB of text is one map pass."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    scored = _hash_embed_scored(docs)
    # desc = NULLS LAST in both engines, so zero-norm rows only surface
    # when fewer than k scored rows exist — same rows either way
    return scored.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(_HE_K)


def _hash_embed_sql(k: int = _HE_K, require_scored: bool = False) -> str:
    scored_pred = (
        "WHERE n.n2 > 0 AND qn.n2 > 0" if require_scored else ""
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
cells AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('i:' || token), 1, 12) AS BIGINT)
               % {_HE_DIM} AS idx,
           CASE WHEN CAST('0x' || substr(md5('s:' || token), 1, 12) AS BIGINT)
                     % 2 = 0 THEN 1 ELSE -1 END AS sgn
    FROM toks
),
vec AS (SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS val
        FROM cells GROUP BY 1, 2),
dots AS (
    SELECT v.doc_id, SUM(v.val * q.val) AS dot
    FROM vec v JOIN vec q ON v.idx = q.idx AND q.doc_id = {_HE_QUERY_DOC}
    GROUP BY 1
),
norms AS (SELECT doc_id, SUM(val * val) AS n2 FROM vec GROUP BY 1)
SELECT n.doc_id,
       CASE WHEN n.n2 > 0 AND qn.n2 > 0 THEN
            ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
                  / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))),
                  6)
       END AS cosine
FROM norms n
JOIN norms qn ON qn.doc_id = {_HE_QUERY_DOC}
LEFT JOIN dots d ON d.doc_id = n.doc_id
{scored_pred}
ORDER BY cosine DESC NULLS LAST, n.doc_id ASC
LIMIT {k}
"""


QUERIES.update(
    {
        "docs_hash_embed_topk": QuerySpec(docs_hash_embed_topk, _hash_embed_sql()),
    }
)


# ------------------------------------------- hybrid retrieval (RRF) ---

_RRF_K0 = 60       # the standard RRF damping constant (Cormack 2009)
_RRF_CAND = 50     # per-retriever candidate depth
_RRF_K = 20        # fused results returned


def docs_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009) — the standard two-retriever serving shape: a LEXICAL
    ranking (Okapi BM25 over the fixed topic terms) and a SEMANTIC
    ranking (feature-hash embedding cosine against the query document)
    each nominate their top-50 candidates, and the fused score is
    sum(1 / (60 + rank)) over the lists that nominated the doc.

    Everything is composed from already-value-oracled pieces
    (text.bm25_topk, _hash_embed_scored), so the FUSION sits under the
    full value oracle too: ranks are deterministic (round-6 scores,
    doc_id tiebreak), and the RRF sum is the same two IEEE divisions
    and one add in both engines, rounded to 6.

    Scale: each retriever is one narrow map pass + TakeOrdered (no
    exchange beyond a 1-row broadcast); the rank windows run over the
    two 50-row candidate lists, and the fusion join is 50x50-bounded.
    At 100 TB this plan's cost is exactly the two retrievers' scans."""
    from pyspark.sql import Window  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    lex = text.bm25_topk(
        docs, list(_BM25_TERMS), k=_RRF_CAND, stats=_bm25_stats(docs, sf_dir)
    )
    sem = (
        _hash_embed_scored(docs)
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_RRF_CAND)
    )
    # rank windows over the two <= 50-row candidate lists (bounded
    # single-task windows by construction, not a scale hazard)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ws = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    semr = sem.select("doc_id", F.row_number().over(ws).alias("sem_rank"))
    fused = (
        lexr.join(semr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K0) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K0) + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_K)


def _hybrid_rrf_sql() -> str:
    return f"""
WITH lexr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                AS INTEGER) AS lex_rank
    FROM ({_bm25_sql(k=_RRF_CAND)}) lex
),
semr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC)
                AS INTEGER) AS sem_rank
    FROM ({_hash_embed_sql(k=_RRF_CAND, require_scored=True)}) sem
),
fused AS (
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, lex_rank, sem_rank,
           ROUND(COALESCE(1.0 / ({_RRF_K0} + lex_rank), 0.0)
                 + COALESCE(1.0 / ({_RRF_K0} + sem_rank), 0.0), 6) AS rrf
    FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT {_RRF_K}
"""


QUERIES.update(
    {
        "docs_hybrid_rrf_topk": QuerySpec(docs_hybrid_rrf_topk, _hybrid_rrf_sql()),
    }
)


# --------------------------- fastText-style hashed-ngram classifier ---

_HLOGREG_ITERS = 2


def docs_hashed_ngram_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fastText pattern (Joulin et al. 2016): a linear classifier
    over HASHED bag-of-words features — composing two engine-portable
    pieces this repo already proves separately: text.hash_embedding
    (the narrow integer feature fold) feeds
    classifier.logistic_regression_fit (distributed full-batch GD whose
    per-iteration driver traffic is d+2 floats). Label = source
    membership. Training AND scoring sit under the unrolled-GD value
    oracle with the hashed features reproduced in SQL — tokenizer-free
    text classification, trained in the engine, value-checked
    end-to-end.

    Scale: the feature fold is embarrassingly parallel; each GD pass is
    one partial agg carrying d+2 cells; scoring is an Exchange-free
    narrow map against literal weights."""
    from multi_report_etl_pipeline_spark.operators import (  # noqa: PLC0415
        classifier,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    emb = docs.select(
        "doc_id",
        (F.col("source") == "src0").cast("double").alias("y"),
        text.hash_embedding("text", _HE_DIM).alias("v"),
    )
    cols = [f"f{i}" for i in range(_HE_DIM)]
    feats = emb.select(
        "doc_id",
        "y",
        *[F.col("v")[i].cast("double").alias(c) for i, c in enumerate(cols)],
    )
    # every GD pass AND the scoring pass re-reads the features; without
    # persistence each one re-runs the O(n_tokens*dim) hash fold over
    # the raw corpus (measured 12.2 -> 3.6 s at sf1, value-identical; the scoring
    # pass re-folds once by design — fit releases the cache on return)
    w = classifier.logistic_regression_fit(
        feats, cols, label_col="y", iters=_HLOGREG_ITERS, persist_features=True
    )
    return classifier.logistic_regression_score(feats, cols, w).orderBy("doc_id")


def _hashed_logreg_sql(iters: int = _HLOGREG_ITERS) -> str:
    from multi_report_etl_pipeline_spark.operators import (  # noqa: PLC0415
        classifier,
    )

    lr = classifier.LOGREG_LR
    d = _HE_DIM
    names = [f"f{i}" for i in range(d)]
    fcols = ", ".join(
        f"CAST(COALESCE(MAX(CASE WHEN idx = {i} THEN val END), 0) AS DOUBLE)"
        f" AS f{i}"
        for i in range(d)
    )
    parts = [
        f"toks AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents)",
        f"""cells AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('i:' || token), 1, 12) AS BIGINT)
               % {d} AS idx,
           CASE WHEN CAST('0x' || substr(md5('s:' || token), 1, 12) AS BIGINT)
                     % 2 = 0 THEN 1 ELSE -1 END AS sgn
    FROM toks)""",
        "vec AS (SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS val"
        " FROM cells GROUP BY 1, 2)",
        "lab AS (SELECT doc_id, CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END"
        " AS y FROM documents)",
        f"feats AS (SELECT v.doc_id, MIN(l.y) AS y, {fcols}"
        " FROM vec v JOIN lab l ON v.doc_id = l.doc_id GROUP BY 1)",
        "w0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(d + 1)) + ")",
    ]

    z = " + ".join(
        ["w.w0"] + [f"w.w{j + 1} * f.{n}" for j, n in enumerate(names)]
    )
    zp = " + ".join(
        ["w.w0"] + [f"w.w{j + 1} * {n}" for j, n in enumerate(names)]
    )
    for t in range(1, iters + 1):
        cols_sel = ", ".join(f"f.{n}" for n in names)
        parts.append(
            f"p{t} AS (SELECT f.y, {cols_sel},"
            f" 1.0 / (1.0 + exp(-({z}))) AS p"
            f" FROM feats f CROSS JOIN w{t - 1} w)"
        )
        gsel = ", ".join(
            ["SUM(p - y) AS g0"]
            + [f"SUM((p - y) * {n}) AS g{j + 1}" for j, n in enumerate(names)]
        )
        parts.append(f"g{t} AS (SELECT {gsel}, COUNT(*) AS n FROM p{t})")
        wsel = ", ".join(
            f"ROUND(w.w{j} - {lr} * g.g{j} / g.n, 6) AS w{j}"
            for j in range(d + 1)
        )
        parts.append(f"w{t} AS (SELECT {wsel} FROM g{t} g CROSS JOIN w{t - 1} w)")
    score = f"ROUND(1.0 / (1.0 + exp(-({zp}))), 6)"
    tail = (
        f"SELECT f.doc_id, {score} AS score,"
        f" CASE WHEN {score} >= 0.5 THEN 1 ELSE 0 END AS pred"
        f" FROM feats f CROSS JOIN w{iters} w"
        " ORDER BY f.doc_id"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


QUERIES.update(
    {
        "docs_hashed_ngram_logreg": QuerySpec(
            docs_hashed_ngram_logreg, _hashed_logreg_sql()
        ),
    }
)


def docs_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — the step BETWEEN near-dup
    grouping and corpus rewrite: within each dup group, keep the
    highest-quality member (text.quality_score; doc_id-ascending
    tiebreak), emitting the (group, canonical, size) survivorship
    manifest a deduped rewrite joins against. min-id election
    (exact_dedup) is the degenerate quality-free case; this is the
    "choose the BEST duplicate" curation policy.

    Scale: components + one quality projection + ONE max_by partial
    agg keyed by group — the span-dedup election shape, so Zipf-huge
    boilerplate groups reduce map-side; nothing is collected."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    groups = dedup.near_dup_components(pairs)
    q = docs.select(
        "doc_id", text.quality_score("text").alias("quality")
    )
    member = groups.join(q, "doc_id")
    return (
        member.groupBy("group_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid")
                ),
                F.struct(
                    F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid")
                ),
            ).alias("win"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(
            "group_id",
            (-F.col("win.nid")).alias("canonical_id"),
            F.col("win.q").alias("canonical_quality"),
            "group_size",
        )
        .orderBy("group_id")
    )


# Build the oracle by wrapping the groups CTE and electing per group.
_CANONICAL_SQL = (
    DEDUP_GROUPS_SQL.replace(
        "SELECT src AS doc_id, LEAST(MIN(dst), src) AS group_id FROM reach GROUP BY src",
        ", grp AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS group_id"
        " FROM reach GROUP BY src),\n"
        "q AS (SELECT doc_id,"
        " ROUND(0.4 * least(CAST(len(" + _WORDS + ") AS DOUBLE) / 100.0, 1.0)"
        " + 0.3 * (1.0 - ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]'))"
        " AS DOUBLE) / CAST(length(text) AS DOUBLE), 6))"
        " + 0.3 * least(ROUND(CAST(len(regexp_extract_all(lower(text),"
        " '" + _STOP_PAT + "')) AS DOUBLE) / CAST(len(" + _WORDS + ") AS DOUBLE), 6)"
        " * 5, 1.0), 6) AS quality FROM documents)\n"
        # arg_max cannot order by ROW: encode (quality, -doc_id) as one
        # BIGINT — quality has exactly 6 dp, doc ids < 1e10
        "SELECT g.group_id,\n"
        "       arg_max(g.doc_id, CAST(ROUND(q.quality * 1000000) AS BIGINT)"
        " * 10000000000 - g.doc_id) AS canonical_id,\n"
        "       MAX(q.quality) AS canonical_quality,\n"
        "       COUNT(*) AS group_size\n"
        "FROM grp g JOIN q ON g.doc_id = q.doc_id\n"
        "GROUP BY g.group_id ORDER BY g.group_id",
    )
)


QUERIES.update(
    {
        "docs_canonical_selection": QuerySpec(
            docs_canonical_selection, _CANONICAL_SQL
        ),
    }
)


_DEDUP_SAMPLE_PCT = 60


def docs_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-then-sample pipeline tail: drop every non-canonical
    member of a near-dup group (quality-aware canonical selection),
    keep docs outside any group untouched, then take the deterministic
    md5-keyed 60% sample of the survivors — the id manifest a
    training-data export joins against. Composes canonical selection
    with the hash sampler; survivorship semantics: survivors =
    (all docs) minus (group members that lost their election).

    Scale: the anti side is a broadcast-able losers list (one id per
    non-canonical group member); the sample is the narrow md5 filter —
    the corpus text itself never shuffles."""
    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    groups = dedup.near_dup_components(pairs)
    q = docs.select("doc_id", text.quality_score("text").alias("quality"))
    member = groups.join(q, "doc_id")
    winners = (
        member.groupBy("group_id")
        .agg(
            F.max_by(
                F.col("doc_id"),
                F.struct(
                    F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid")
                ),
            ).alias("doc_id")
        )
        .select("doc_id")
    )
    losers = groups.select("doc_id").exceptAll(winners)
    survivors = docs.select("doc_id").join(losers, "doc_id", "left_anti")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return survivors.filter(u < _DEDUP_SAMPLE_PCT).orderBy("doc_id")


_DEDUP_SAMPLE_SQL = (
    DEDUP_GROUPS_SQL.replace(
        "SELECT src AS doc_id, LEAST(MIN(dst), src) AS group_id FROM reach GROUP BY src",
        ", grp AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS group_id"
        " FROM reach GROUP BY src),\n"
        "q AS (SELECT doc_id,"
        " ROUND(0.4 * least(CAST(len(" + _WORDS + ") AS DOUBLE) / 100.0, 1.0)"
        " + 0.3 * (1.0 - ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]'))"
        " AS DOUBLE) / CAST(length(text) AS DOUBLE), 6))"
        " + 0.3 * least(ROUND(CAST(len(regexp_extract_all(lower(text),"
        " '" + _STOP_PAT + "')) AS DOUBLE) / CAST(len(" + _WORDS + ") AS DOUBLE), 6)"
        " * 5, 1.0), 6) AS quality FROM documents),\n"
        "winners AS (SELECT arg_max(g.doc_id,"
        " CAST(ROUND(q.quality * 1000000) AS BIGINT) * 10000000000 - g.doc_id)"
        " AS doc_id FROM grp g JOIN q ON g.doc_id = q.doc_id GROUP BY g.group_id),\n"
        "losers AS (SELECT doc_id FROM grp EXCEPT SELECT doc_id FROM winners),\n"
        "survivors AS (SELECT d.doc_id FROM documents d"
        " LEFT JOIN losers l ON d.doc_id = l.doc_id WHERE l.doc_id IS NULL)\n"
        "SELECT doc_id FROM survivors\n"
        "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)"
        f" % 100 < {_DEDUP_SAMPLE_PCT}\n"
        "ORDER BY doc_id",
    )
)


QUERIES.update(
    {
        "docs_dedup_sample": QuerySpec(docs_dedup_sample, _DEDUP_SAMPLE_SQL),
    }
)


def _hourly_hll_sketch(ev: DataFrame) -> DataFrame:
    """(hour_t, hll_uniques) via the portable per-hour HLL: one
    (hour, register) partial-agg max + a per-hour in-plan harmonic
    estimate. Shared by events_hourly_unique_users (accuracy witness
    next to the exact count) and events_hourly_uniques_sketch (the
    sketch-ONLY serving row). Exchange carries <= |hours| x 256 cells
    at any event volume.

    Users hash with ``md5`` (top 48 bits), the engine-portable
    convention the DuckDB oracle reproduces. The round-10 decomposition
    (VERDICT r9 item 4, BASELINE.md) measured md5's share of the cost
    against a JVM-native xxhash64 and an unhashed floor; neither is
    oracle-portable."""
    m, w = _HLL_REGS, _HLL_SUFFIX_BITS
    h = dedup._md5_48(F.col("user_id").cast("string"))  # noqa: SLF001
    _tl = F.col("ts").cast("timestamp_ltz").cast("long")
    hour_t = F.timestamp_seconds(_tl - F.pmod(_tl, F.lit(3600)))
    regs = (
        ev.select(
            hour_t.alias("hour_t"),
            F.shiftright(h, w).alias("reg"),
            (h.bitwiseAND(F.lit((1 << w) - 1))).alias("low"),
        )
        .withColumn(
            "rank",
            # rank = w+1 - bitlength(low) via floor(log2): exact for the
            # full 0 < low < 2^40 domain — see events_hourly_unique_users
            F.when(F.col("low") == 0, F.lit(w + 1)).otherwise(
                F.lit(w + 1) - (F.floor(F.log2("low")) + 1).cast("int")
            ),
        )
        .groupBy("hour_t", "reg")
        .agg(F.max("rank").alias("mr"))
    )
    est_raw = F.lit(_HLL_ALPHA_M2) / F.col("s")
    small = (F.col("v") > 0) & (est_raw <= 2.5 * m)
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v"))
    return (
        regs.groupBy("hour_t")
        .agg(
            (
                F.sum(F.pow(F.lit(2.0), -F.col("mr")))
                + (F.lit(m) - F.count(F.lit(1))).cast("double")
            ).alias("s"),
            (F.lit(m) - F.count(F.lit(1))).cast("double").alias("v"),
        )
        .select(
            "hour_t",
            F.round(F.when(small, linear).otherwise(est_raw), 4).alias(
                "hll_uniques"
            ),
        )
    )


def _hourly_exact_uniques(spark: SparkSession, sf_dir: str, ev) -> DataFrame:
    """(hour_t, exact_uniques): exact windowed distinct users.

    Default plan (round 10): bitmap-index distinct. Hours map to a
    dense index from the dataset's min hour (one stored
    1-row min, the binned-percentiles posture); each (user, 64-hour
    segment) group bit_ors its hour bits into one long, then 64
    mask-and-sum aggregates over the tiny (user x segment) frame read
    the per-hour counts out of the bitmap columns. Both aggs are
    map-side partial; nothing ever materializes (hour, user) pairs.

    Parity notes: countDistinct ignores NULL users, so the bitmap core
    filters them identically; a NULL ts row would form a NULL hour
    group in the countDistinct plan, so NULL-ts inputs (none in any
    fixture) and empty tables fall back to the countDistinct plan
    rather than silently diverging."""
    tl = F.col("ts").cast("timestamp_ltz").cast("long")
    hour_t = F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600)))
    fallback = (
        ev.select(hour_t.alias("hour_t"), "user_id")
        .groupBy("hour_t")
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )

    def min_hour() -> int | None:
        row = ev.agg(
            F.min(tl).alias("m"),
            F.sum(
                (F.col("ts").isNull() | F.col("user_id").isNull()).cast("int")
            ).alias("nn"),
        ).collect()[0]
        if row["m"] is None or (row["nn"] or 0) > 0:
            # empty table, NULL ts (NULL hour group) or NULL users (a
            # countDistinct group can report 0): exact-parity fallback
            return None
        return int(row["m"]) // 3600

    mn = artifacts.get("events_min_hour", sf_dir, ("events",), min_hour)
    if mn is None:
        return fallback
    core = (
        ev.select("user_id", (tl.cast("long")).alias("tsl"))
        .select(
            "user_id",
            F.expr(f"(tsl div 3600 - {mn}) div 64").alias("seg"),
            F.expr(f"shiftleft(1L, cast((tsl div 3600 - {mn}) % 64 as int))").alias("b"),
        )
        .groupBy("user_id", "seg")
        .agg(F.bit_or("b").alias("bm"))
    )
    # parsed strings, not Column chains: 64 chained sums cost ~256 Py4J
    # round trips per construction (the pq/simhash authoring lesson —
    # identical expressions either way, one parse call each)
    sums = [
        F.expr(f"SUM(SHIFTRIGHTUNSIGNED(bm, {i}) & 1)").alias(f"c{i}")
        for i in range(64)
    ]
    per_seg = core.groupBy("seg").agg(*sums)
    stacked = per_seg.selectExpr(
        "seg",
        "stack(64, " + ", ".join(f"{i}, c{i}" for i in range(64)) + ") as (bit, cnt)",
    )
    return stacked.filter(F.col("cnt") > 0).select(
        F.timestamp_seconds(
            (F.col("seg") * 64 + F.col("bit") + F.lit(mn)) * 3600
        ).alias("hour_t"),
        F.col("cnt").alias("exact_uniques"),
    )


def events_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed cardinality — the unique-visitors-per-window op: one
    portable HLL sketch PER HOUR (the keyed generalization of
    lineitem_hll_distinct: (hour, register) partial-agg max, per-hour
    in-plan harmonic estimate) next to the exact distinct count, so the
    emitted rows show the sketch's per-window error and BOTH columns
    are value-oracled.

    Scale: the sketch side's exchange carries <= |hours| x 256 cells
    regardless of event volume — the exact side is, since round 10, a
    per-(user, 64-hour-segment) BITMAP aggregate (the OLAP bitmap-index
    distinct): each user's hours collapse map-side into 64-bit segment
    masks via bit_or, the exchange carries <= |users| x |segments|
    16-byte rows instead of |hours| x |users| dedup pairs, and the
    per-hour counts come from 64 popcount-style sums over the 12-row
    segment axis. sf100ev A/B (one sitting, min-of-3 interleaved):
    bitmap 3.45 s vs countDistinct-rewrite 5.91 s (1.72x), values
    identical. At 100 TB you keep the sketch column
    and drop the exact one (it is the oracle-checked accuracy
    witness); when you DO need windowed-exact at scale, the bitmap
    form is the one that survives (its exchange is user-bounded, not
    pair-bounded)."""
    ev = read_table(spark, sf_dir, "events")
    # aggregate on the 8-byte truncated TIMESTAMP and format the hour
    # string after the rollup — the partial-agg hash tables and the
    # exchange otherwise carry a 19-char key per row. Truncation is
    # epoch arithmetic, not date_trunc: value-identical under the
    # engine's pinned UTC session and 1.42x cheaper per scan row
    # (sf100ev A/B, BASELINE.md round 8), and this query pays it on
    # BOTH its scans (exact + sketch).
    _tl = F.col("ts").cast("timestamp_ltz").cast("long")
    hour_t = F.timestamp_seconds(_tl - F.pmod(_tl, F.lit(3600)))
    sketch = _hourly_hll_sketch(ev)
    exact = _hourly_exact_uniques(spark, sf_dir, ev)
    return (
        exact.join(sketch, "hour_t")
        .select(
            F.date_format("hour_t", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "exact_uniques",
            "hll_uniques",
        )
        .orderBy("hour_ts")
    )


# shared sketch CTEs: the per-hour portable-HLL pipeline (h -> regs ->
# agg -> sk), used by both the witness query (exact + sketch) and the
# sketch-only serving row
_HLL_SKETCH_CTES = f"""h AS (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                AS BIGINT) AS hv
    FROM events
),
regs AS (
    SELECT hour_ts, hv >> {_HLL_SUFFIX_BITS} AS reg,
           MAX(CASE WHEN (hv & {(1 << _HLL_SUFFIX_BITS) - 1}) = 0
                    THEN {_HLL_SUFFIX_BITS + 1}
                    ELSE {_HLL_SUFFIX_BITS + 1}
                         - length(bin(hv & {(1 << _HLL_SUFFIX_BITS) - 1}))
               END) AS mr
    FROM h GROUP BY 1, 2
),
agg AS (
    SELECT hour_ts,
           SUM(POWER(2.0, -mr))
               + CAST({_HLL_REGS} - COUNT(*) AS DOUBLE) AS s,
           CAST({_HLL_REGS} - COUNT(*) AS DOUBLE) AS v
    FROM regs GROUP BY 1
),
sk AS (
    SELECT hour_ts,
           ROUND(CASE WHEN v > 0 AND {_HLL_ALPHA_M2!r} / s <= 2.5 * {_HLL_REGS}
                      THEN {_HLL_REGS}.0 * ln({_HLL_REGS}.0 / v)
                      ELSE {_HLL_ALPHA_M2!r} / s END, 4) AS hll_uniques
    FROM agg
)"""

HOURLY_UNIQUES_SQL = f"""
WITH {_HLL_SKETCH_CTES},
ex AS (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           COUNT(DISTINCT user_id) AS exact_uniques
    FROM events GROUP BY 1
)
SELECT ex.hour_ts, exact_uniques, hll_uniques
FROM ex JOIN sk ON ex.hour_ts = sk.hour_ts
ORDER BY ex.hour_ts
"""


def events_hourly_uniques_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-ONLY serving twin of events_hourly_unique_users (VERDICT
    r8 item 5): the per-hour portable-HLL estimate with NO exact
    column — the row a 100 TB deployment actually serves, where the
    exact |hours| x |users| pair shuffle (95.6M pairs at sf100ev, the
    documented irreducible floor) is replaced by a <= |hours| x 256
    register exchange. Deterministic md5 arithmetic end-to-end, so the
    estimate itself sits under the full value oracle; the exact-twin
    row remains registered as the accuracy witness."""
    ev = read_table(spark, sf_dir, "events")
    return (
        _hourly_hll_sketch(ev)
        .select(
            F.date_format("hour_t", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "hll_uniques",
        )
        .orderBy("hour_ts")
    )


HOURLY_UNIQUES_SKETCH_SQL = f"""
WITH {_HLL_SKETCH_CTES}
SELECT hour_ts, hll_uniques FROM sk ORDER BY hour_ts
"""


QUERIES.update(
    {
        "events_hourly_unique_users": QuerySpec(
            events_hourly_unique_users, HOURLY_UNIQUES_SQL
        ),
        "events_hourly_uniques_sketch": QuerySpec(
            events_hourly_uniques_sketch, HOURLY_UNIQUES_SKETCH_SQL
        ),
    }
)


# ------------------------------------------------- exact heavy hitters ---


def docs_heavy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter terms (count > 0.2% of all token occurrences)
    via bounded-state Misra-Gries candidates + exact verify
    (operators/frequent.py) — the shuffle-free-keyspace alternative to
    a full groupBy-HAVING: per-partition sketch state <= capacity
    counters, then ONE candidate-tagged counting pass whose aggregate
    holds <= candidates+1 groups. Output is EXACT (integer cross-
    multiplication threshold, no division), so it sits under the full
    value oracle; the sketch only proposes a superset. The fixture's
    31-token vocabulary cannot force MG pruning (capacity 1000) — the
    planted-skew property test in tests/test_frequent.py exercises the
    decrement path and the superset guarantee at cardinality >>
    capacity."""
    from multi_report_etl_pipeline_spark.operators import frequent  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    tok = docs.select(F.explode(text.words("text")).alias("token"))
    return frequent.heavy_hitters(tok, "token", k_inv=500, capacity=1000)


HEAVY_TERMS_SQL = f"""
WITH tok AS (SELECT unnest({_WORDS}) AS token FROM documents),
t AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1)
SELECT token, cnt FROM t WHERE cnt * 500 > (SELECT COUNT(*) FROM tok)
"""


QUERIES.update(
    {
        "docs_heavy_terms": QuerySpec(docs_heavy_terms, HEAVY_TERMS_SQL),
    }
)


# --------------------------------------------- distribution divergence ---


def docs_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor: per-language total-variation distance
    between the language's unigram distribution and the corpus-wide
    one, plus the single most-drifted token — the slice-vs-corpus drift
    check a training-data pipeline runs before reweighting a mixture.

    TV = 0.5 * sum_t |p_l(t) - p(t)| is computed in EXACT integer
    arithmetic (|c_lt * n - c_t * n_l| — cross-multiplied, no division
    until the final rounded emit), so the result is bit-reproducible
    and sits under the full value oracle; log-based divergences (KL)
    would put libm inside the hash. int64 headroom: the products stay
    under 2^63 through sf100-scale corpora (~1e7 tokens squared =
    1e14); a deployment beyond that flips the same expressions to
    DOUBLE, trading bitwise oracle equality for scale — divergence is a
    statistic, not an accounting number.

    100 TB shape: ONE explode + partial-agg shuffle keyed
    (lang, token); everything downstream (corpus counts, language
    totals, the langs x vocab completion for tokens absent in a
    language, the argmax) derives from that vocabulary-sized aggregate,
    never rescanning the corpus. Round 10: the "derives from" claim is
    now enforced physically — clt is ``localCheckpoint``-ed (the
    minhash-signature posture, dedup.py). Before, the four consumers
    (ct, nl, ntot, the join probe) each re-planned the scan+tokenize
    subtree; AQE exchange reuse recovered two of them at runtime but
    NOT the join-probe branch, whose pushed ``isnotnull(lang)`` filter
    makes its subtree canonically different — the executed plan still
    tokenized the corpus TWICE (final-plan audit, plans/r10). The
    checkpoint pins it to once; the artifact is |langs| x |vocab| rows
    (vocabulary-sized under Heaps' law), the same bound the query's own
    completion join already materializes."""
    from pyspark.sql import Window  # noqa: PLC0415

    docs = fan_out(read_table(spark, sf_dir, "documents"), spark, cols=("doc_id",))
    clt = (
        docs.select("lang", F.explode(text.words("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c_lt"))
        .localCheckpoint(eager=True)
    )
    ct = clt.groupBy("token").agg(F.sum("c_lt").alias("c_t"))
    nl = clt.groupBy("lang").agg(F.sum("c_lt").alias("n_l"))
    # corpus total as a 1-row aggregate broadcast back via crossJoin
    # (the q11/q15 pattern): a partition-less window here would plan as
    # Exchange SinglePartition + a one-task pass over |vocab| rows —
    # ~1e8 rows single-threaded on a 100 TB corpus by Heaps' law
    ntot = ct.agg(F.sum("c_t").alias("n"))
    full = (
        nl.crossJoin(ct.crossJoin(F.broadcast(ntot)))
        .join(clt, ["lang", "token"], "left")
        .withColumn("c_lt", F.coalesce("c_lt", F.lit(0)))
        .withColumn(
            "drift",
            F.abs(F.col("c_lt") * F.col("n") - F.col("c_t") * F.col("n_l")),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("drift").desc(), F.col("token").asc()
    )
    return (
        full.withColumn("rn", F.row_number().over(w))
        .groupBy("lang")
        .agg(
            F.max("n_l").alias("n_tokens"),
            F.round(
                F.sum("drift").cast("double")
                / (F.lit(2.0) * F.max("n_l") * F.max("n")),
                6,
            ).alias("tv_distance"),
            F.max(F.when(F.col("rn") == 1, F.col("token"))).alias(
                "top_drift_token"
            ),
        )
    )


LANG_DIVERGENCE_SQL = f"""
WITH tok AS (SELECT lang, unnest({_WORDS}) AS token FROM documents),
clt AS (SELECT lang, token, COUNT(*) AS c_lt FROM tok GROUP BY 1, 2),
ct AS (SELECT token, CAST(SUM(c_lt) AS BIGINT) AS c_t FROM clt GROUP BY 1),
nl AS (SELECT lang, CAST(SUM(c_lt) AS BIGINT) AS n_l FROM clt GROUP BY 1),
n AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
filled AS (
    SELECT nl.lang, ct.token, nl.n_l, ct.c_t, n.n,
           COALESCE(clt.c_lt, 0) AS c_lt,
           ABS(COALESCE(clt.c_lt, 0) * n.n - ct.c_t * nl.n_l) AS drift
    FROM nl CROSS JOIN ct CROSS JOIN n
    LEFT JOIN clt ON clt.lang = nl.lang AND clt.token = ct.token
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY drift DESC, token ASC) AS rn
    FROM filled
)
SELECT lang,
       MAX(n_l) AS n_tokens,
       ROUND(CAST(CAST(SUM(drift) AS BIGINT) AS DOUBLE) / (2.0 * MAX(n_l) * MAX(n)), 6)
           AS tv_distance,
       MAX(CASE WHEN rn = 1 THEN token END) AS top_drift_token
FROM ranked
GROUP BY lang
"""


QUERIES.update(
    {
        "docs_lang_divergence": QuerySpec(
            docs_lang_divergence, LANG_DIVERGENCE_SQL
        ),
    }
)
