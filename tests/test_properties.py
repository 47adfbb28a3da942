"""Property-based tests (hypothesis): invariants that hold for ALL
inputs, not just the fixtures.

Each example ships a whole batch of generated values through one Spark
round trip, so the per-example JVM cost is paid once per batch rather
than once per value.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multi_report_etl_pipeline_spark import staging

import pytest

_shared_spark = {"spark": None}


@pytest.fixture(scope="module", autouse=True)
def _seed_shared_spark(spark):
    # hypothesis forbids function-scoped fixtures inside @given; stash
    # the session-scoped spark handle once per module. Autouse (rather
    # than a sentinel test) so `pytest -k <one property>` still seeds it.
    _shared_spark["spark"] = spark
    yield


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99),
            st.integers(min_value=0, max_value=99),
            st.integers(min_value=1, max_value=9999),
        ),
        min_size=1,
        max_size=64,
    )
)
def test_parse_ddmmyyyy_matches_python_calendar(triples):
    """try_to_date('dd/MM/yyyy') must agree with Python's proleptic
    Gregorian calendar on EVERY (day, month, year) — valid dates parse,
    impossible ones (31/04, 30/02, 29/02 on non-leap years, zero
    day/month) return NULL, never a shifted date."""
    spark = _shared_spark["spark"]
    strings = [f"{d:02d}/{m:02d}/{y:04d}" for d, m, y in triples]
    df = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", staging.parse_ddmmyyyy("s").alias("parsed")
    )
    got = {r["s"]: r["parsed"] for r in df.collect()}
    for (d, m, y), s in zip(triples, strings):
        try:
            want = datetime.date(y, m, d)
        except ValueError:
            want = None
        assert got[s] == want, f"{s}: spark={got[s]} python={want}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_salted_join_equals_plain_join(pairs, n_salts):
    """salted_join must be result-identical to the plain equi-join for
    any fact multiset, any salt count, inner and left."""
    from multi_report_etl_pipeline_spark.operators.skew import salted_join

    spark = _shared_spark["spark"]
    fact = spark.createDataFrame(pairs, "k long, v long")
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, name string")
    for how in ("inner", "left"):
        want = sorted(
            tuple(map(repr, r)) for r in fact.join(dim, "k", how).collect()
        )
        got = sorted(
            tuple(map(repr, r))
            for r in salted_join(fact, dim, "k", how=how, n_salts=n_salts).collect()
        )
        assert got == want, how


def test_row_fp_unique_per_scale_factor(duck):
    """row_fp is the staging layer's claimed total-order tiebreaker; its
    uniqueness must be ENFORCED per scale factor, not assumed. Checks
    both the string identity and the 60-bit hash (collision would also
    break it) on every fixture the tests read."""
    from multi_report_etl_pipeline_spark.domain import stg_activities_sql

    for schema in ("sf_small", "sf_med"):
        duck.execute(f"SET search_path = '{schema}'")
        n, d = duck.execute(
            "SELECT COUNT(*), COUNT(DISTINCT row_fp) FROM ("
            + stg_activities_sql("duckdb")
            + ")"
        ).fetchone()
        assert n == d, f"{schema}: {n - d} row_fp collisions in {n} rows"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # left rows: (key, ts) — ties and duplicates welcome
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=30,
    ),
    st.lists(  # right rows: (key, ts) — deduped to unique (key, ts) below
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=0,
        max_size=30,
    ),
    st.booleans(),
)
def test_asof_backward_matches_reference(left_rows, right_rows, strict):
    """asof_join_backward must agree with a brute-force reference on
    ARBITRARY inputs for both strict modes: each left row gets the
    payload of the latest right row with right_ts <= left_ts (strict:
    right_ts < left_ts) within its key, NULL when none exists. Right
    rows are unique per (key, ts) — the operator's documented
    precondition (pre-aggregate otherwise, as the asof query does)."""
    from multi_report_etl_pipeline_spark.operators.asof import asof_join_backward

    spark = _shared_spark["spark"]
    right_uniq = {(k, ts): k * 1000 + ts for k, ts in right_rows}
    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        "lid long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(k, ts, p) for (k, ts), p in sorted(right_uniq.items())] or [(None, None, None)],
        "k long, ts long, payload long",
    )
    if not right_uniq:
        right = right.filter("k IS NOT NULL")
    got = {
        r["lid"]: r["last_payload"]
        for r in asof_join_backward(
            left, right, key="k", left_ts="ts", right_ts="ts",
            payload={"payload": "last_payload"}, strict=strict,
        ).collect()
    }
    for i, (k, ts) in enumerate(left_rows):
        cands = [
            (rts, p)
            for (rk, rts), p in right_uniq.items()
            if rk == k and (rts < ts if strict else rts <= ts)
        ]
        want = max(cands)[1] if cands else None
        assert got[i] == want, f"lid={i} key={k} ts={ts} strict={strict}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # (doc key, token count) — zero-token and huge docs welcome
        st.tuples(st.integers(0, 10_000), st.integers(0, 3000)),
        min_size=1,
        max_size=60,
        unique_by=lambda kv: kv[0],
    ),
    st.integers(min_value=1, max_value=1024),
    st.integers(min_value=1, max_value=8),
)
def test_token_packing_matches_reference(docs, budget, n_shards):
    """pack_by_token_budget must equal the sequential reference EXACTLY
    for arbitrary token counts, budgets, and shard counts: within a
    shard (pmod of key), docs ordered by key, each doc's pack is the one
    containing its start offset — floor(prefix_sum_before / budget)."""
    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators.sampling import (
        pack_by_token_budget,
    )

    spark = _shared_spark["spark"]
    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["n_tokens"])
        for r in pack_by_token_budget(
            df, "doc_id", F.col("n_tokens"), budget=budget, n_shards=n_shards
        ).collect()
    }
    assert len(got) == len(docs)  # every doc assigned exactly once
    shards: dict[int, list[tuple[int, int]]] = {}
    for k, t in docs:
        shards.setdefault(k % n_shards, []).append((k, t))
    for shard, members in shards.items():
        offset = 0
        for k, t in sorted(members):
            want_pack = offset // budget
            assert got[k] == (shard, want_pack, t), (
                f"doc={k} shard={shard} offset={offset}: "
                f"got={got[k]} want=({shard}, {want_pack}, {t})"
            )
            offset += t


_CHANNELS = ["PHONE", "FIELD", "MESSAGING", "EMAIL", "AGENT_BANK", "WHATSAPP"]
_CONTACTS = ["PRIMARY", "THIRD_PARTY", "NO_CONTACT", "GUARANTOR", "UNKNOWN_TYPE"]
_OUTCOMES = ["PAYMENT_PROMISE", "RESTRUCTURE_REQUEST", "NO_ANSWER", "CALLBACK"]
_DATES = ["15/06/2025", "14/06/2025", "31/02/2025", "GARBAGE", "01/01/2020"]
# '9:05:00' sorts after '10:00:00' as a string (the reference orders the
# raw string DESC); 'junk' and None must neither fail nor sort first
_TIMES = ["10:00:00", "10:00:00", "23:59:59", "00:00:01", "9:05:00", "junk", None]


def _rows(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


def _sql_contact_views(spark, stg_activities):
    """The contact views as the Spark-SQL rendering of the oracle's
    window CTEs, over ``stg_activities`` registered under that name: a
    reference that shares no code with staging.py."""
    from multi_report_etl_pipeline_spark import oracle

    stg_activities.createOrReplaceTempView("stg_activities")
    ctes = [
        (name, sql)
        for name, sql in oracle.staging_ctes(dialect="spark")
        if name not in ("stg_accounts", "stg_activities", "clean_accounts")
    ]
    body = ",\n".join(f"{name} AS (\n{sql}\n)" for name, sql in ctes)
    try:
        return {
            name: _rows(spark.sql(f"WITH {body}\nSELECT * FROM {name}"))
            for name, _ in ctes
            if name.startswith("clean_contacts_")
        }
    finally:
        spark.catalog.dropTempView("stg_activities")


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),  # account_id — few, to force collisions
            st.integers(1, 6),  # activity_id — deliberately duplicated
            st.sampled_from(_DATES),
            st.sampled_from(_TIMES),
            st.sampled_from(_CHANNELS),
            st.sampled_from(_CONTACTS),
            st.sampled_from(_OUTCOMES),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_survivor_agg_equals_window_path_and_dedups(rows):
    """SURVEY.md §5.2 property 4 + the materialization rewrite contract,
    for ARBITRARY activity inputs (duplicated ids, tied dates/times,
    malformed dates and times, NULL times): every clean contact view
    keeps <=1 row per account, and both physical forms (the lazy windows
    and the min_by survivors) produce exactly the rows of the oracle's
    window SQL run by Spark."""
    from tests.test_edge_cases import _activities_df, _activity

    spark = _shared_spark["spark"]
    data = [
        _activity(
            account_id=a,
            activity_id=i,
            row_fp=fp,  # unique by contract; ids/dates/times collide freely
            activity_date=d,
            activity_time=t,
            collection_channel=ch,
            contact_type=ct,
            contact_outcome=oc,
        )
        for fp, (a, i, d, t, ch, ct, oc) in enumerate(rows)
    ]
    df = _activities_df(spark, data)
    want = _sql_contact_views(spark, df)
    forms = {
        "window": staging.contact_views(df),
        "survivors": staging.clean_views_from_survivors(
            staging.combined_contact_survivors(df)
        ),
    }
    assert set(want) == set(forms["window"]) == set(forms["survivors"])
    for form, views in forms.items():
        for name, rows_want in want.items():
            assert _rows(views[name]) == rows_want, f"{name}: {form} form != SQL"
    for name, rows_want in want.items():
        accounts = [r[0] for r in rows_want]
        assert len(accounts) == len(set(accounts)), f"{name}: >1 row per account"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        max_size=16,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        max_size=16,
    ),
)
def test_snapshot_diff_matches_reference(old_map, new_map):
    """snapshot_diff must classify EVERY key of two arbitrary snapshots
    (small key/value domains force collisions, ties, and nulls) exactly
    like the obvious dict reference — including null-vs-null unchanged
    and null-vs-value changed."""
    from multi_report_etl_pipeline_spark.operators.snapshot import snapshot_diff

    spark = _shared_spark["spark"]
    old = spark.createDataFrame(
        [(k, v) for k, v in old_map.items()] or [], "k long, v long"
    ) if old_map else spark.createDataFrame([], "k long, v long")
    new = spark.createDataFrame(
        [(k, v) for k, v in new_map.items()] or [], "k long, v long"
    ) if new_map else spark.createDataFrame([], "k long, v long")
    got = {
        r.k: r.change
        for r in snapshot_diff(old, new, key_cols=["k"], include_unchanged=True).collect()
    }
    want = {}
    for k in set(old_map) | set(new_map):
        if k not in old_map:
            want[k] = "added"
        elif k not in new_map:
            want[k] = "removed"
        elif old_map[k] != new_map[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # user
            st.sampled_from(["signup", "click", "purchase", "view"]),
            st.integers(min_value=0, max_value=50),  # minute offset (ties allowed)
        ),
        min_size=1,
        max_size=80,
    )
)
def test_funnel_matches_bruteforce_reference(events):
    """The window-form funnel (running-min rewrite) must agree with the
    direct per-user-scalar definition on EVERY event set — including
    ties (signup == click ts), step events before entry, multi-signup
    users, and users missing steps entirely."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.queries import events as events_mod

    spark = _shared_spark["spark"]
    base = dt.datetime(2024, 5, 1)
    rows = [
        (u, t, base + dt.timedelta(minutes=m)) for u, t, m in events
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    # brute-force reference: literal first-touch definition per user
    per_user: dict[int, list[tuple[str, dt.datetime]]] = {}
    for u, t, m in events:
        per_user.setdefault(u, []).append((t, base + dt.timedelta(minutes=m)))
    signup = click = purchase = 0
    for evs in per_user.values():
        t1 = min((ts for t, ts in evs if t == "signup"), default=None)
        if t1 is None:
            continue
        signup += 1
        t2 = min((ts for t, ts in evs if t == "click" and ts > t1), default=None)
        if t2 is None:
            continue
        click += 1
        t3 = min(
            (ts for t, ts in evs if t == "purchase" and ts > t2), default=None
        )
        if t3 is not None:
            purchase += 1

    read_orig = events_mod.read_table
    events_mod.read_table = lambda *_a, **_k: df
    try:
        got = {
            r.step: r.users
            for r in events_mod.conversion_funnel(spark, "unused").collect()
        }
    finally:
        events_mod.read_table = read_orig
    assert got == {
        "signup": signup,
        "click_after_signup": click,
        "purchase_after_click": purchase,
    }


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # corpus: token lists over a tiny alphabet (forces span collisions)
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=14),
        min_size=1,
        max_size=12,
    )
)
def test_span_dedup_matches_bruteforce_reference(corpora):
    """span_dedup must agree with the literal Python definition on EVERY
    corpus: chunk into 3-token spans (short tail included), keep the
    globally first (doc_id, span_idx) occurrence of each span text,
    reassemble in span order, drop fully-deduped docs."""
    from multi_report_etl_pipeline_spark.operators.dedup import span_dedup

    spark = _shared_spark["spark"]
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    seen: set[str] = set()
    expect: dict[int, tuple[str, int, int]] = {}
    for i, toks in enumerate(corpora):
        spans = [" ".join(toks[j : j + 3]) for j in range(0, len(toks), 3)]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        if kept:
            expect[i] = (" ".join(kept), len(kept), len(spans))

    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_spans"])
        for r in span_dedup(df, span_tokens=3).collect()
    }
    assert got == expect


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=12),
        min_size=1,
        max_size=10,
    )
)
def test_repetition_stats_matches_bruteforce_reference(corpora):
    """repetition_stats must agree with the literal Counter-based
    definition for every doc: mode fraction, duplicate n-gram
    occurrence fractions (0.0 when no n-grams), 6-dp rounding."""
    from collections import Counter

    from multi_report_etl_pipeline_spark.operators.text import repetition_stats

    spark = _shared_spark["spark"]
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def dup_frac(grams):
        return 0.0 if not grams else round(1.0 - len(set(grams)) / len(grams), 6)

    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, toks in enumerate(corpora):
        bg = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        tg = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["top_token_frac"] == round(
            Counter(toks).most_common(1)[0][1] / len(toks), 6
        )
        assert r["dup_bigram_frac"] == dup_frac(bg)
        assert r["dup_trigram_frac"] == dup_frac(tg)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["qa", "qb", "w1", "w2", "w3"]), min_size=1, max_size=10),
        min_size=1,
        max_size=10,
    )
)
def test_bm25_matches_bruteforce_reference(corpora):
    """bm25_topk must reproduce the literal Okapi BM25 definition
    (idf/tf/length-normalization, zero-score exclusion, score-then-id
    ordering) on every corpus; scores compared at 1e-6."""
    import math

    from multi_report_etl_pipeline_spark.operators.text import bm25_topk

    spark = _shared_spark["spark"]
    terms = ["qa", "qb"]
    k1, b = 1.2, 0.75
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    n = len(corpora)
    avgdl = sum(len(t) for t in corpora) / n
    dfs = [sum(1 for t in corpora if q in t) for q in terms]
    idf = [math.log((n - d + 0.5) / (d + 0.5) + 1.0) for d in dfs]
    scored = []
    for i, toks in enumerate(corpora):
        norm = k1 * (1 - b + b * len(toks) / avgdl)
        s = sum(
            idf[j] * toks.count(q) * (k1 + 1) / (toks.count(q) + norm)
            for j, q in enumerate(terms)
        )
        if round(s, 6) > 0.0:
            scored.append((i, round(s, 6)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    expect = scored[:5]

    got = [(r["doc_id"], r["bm25"]) for r in bm25_topk(df, terms, k=5).collect()]
    assert [g[0] for g in got] == [e[0] for e in expect], (got, expect)
    for (gi, gs), (ei, es) in zip(got, expect):
        assert abs(gs - es) < 1e-6, (gi, gs, es)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # tiny alphabet forces vocab-cut ties and OOV tokens
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=10),
        min_size=1,
        max_size=10,
    )
)
def test_unigram_logprob_matches_bruteforce_reference(corpora):
    """unigram_logprob must reproduce the literal truncated add-one LM
    definition on EVERY corpus: top-V cut by (count DESC, token ASC),
    OOV floor, micro-nat integer sums, per-doc mean."""
    import math
    from collections import Counter

    from multi_report_etl_pipeline_spark.operators.text import (
        unigram_lm_stats,
        unigram_logprob,
    )

    spark = _shared_spark["spark"]
    vocab_size = 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = unigram_lm_stats(df, vocab_size=vocab_size)

    counts = Counter(t for toks in corpora for t in toks)
    n_total = sum(counts.values())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    assert stats == {
        "n_total": n_total,
        "vocab": [(t, c) for t, c in top],
        "vocab_size": vocab_size,
    }
    denom = n_total + vocab_size + 1.0
    lp = {t: round(math.log((c + 1) / denom) * 1e6) for t, c in top}
    oov = round(math.log(1.0 / denom) * 1e6)

    got = {r["doc_id"]: r for r in unigram_logprob(df, stats=stats).collect()}
    assert set(got) == set(range(len(corpora)))
    for i, toks in enumerate(corpora):
        s = sum(lp.get(t, oov) for t in toks)
        want = -(s / 1e6) / len(toks)
        assert got[i]["n_tokens"] == len(toks)
        assert abs(got[i]["cross_entropy"] - want) <= 1e-6, (i, toks)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["good", "bulk"]),
            st.lists(st.sampled_from("abcdef"), min_size=1, max_size=8),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_dsir_matches_bruteforce_reference(rows):
    """dsir_sample must reproduce the literal hashed-unigram importance
    definition (same md5 bucketing, add-one smoothing, integer
    micro-nat sums) for every corpus — including all-target and
    no-target splits."""
    import hashlib

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.operators.sampling import dsir_sample
    from tests.test_sampling import _dsir_python_reference

    spark = _shared_spark["spark"]
    n_buckets = 32
    corpus = [(i, src, " ".join(toks)) for i, (src, toks) in enumerate(rows)]
    df = spark.createDataFrame(corpus, "doc_id long, source string, text string")

    def bucket_of(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % n_buckets

    want = _dsir_python_reference(corpus, {"good"}, n_buckets, bucket_of)
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_sample(
            df, F.col("source") == "good", k=len(corpus), n_buckets=n_buckets
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # 2-char alphabet maximizes identical-symbol runs — the
        # documented run-parity edge must STILL match the reference,
        # because the reference implements the same multi-pass rule
        st.lists(st.sampled_from("ab"), min_size=1, max_size=9),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_train_matches_bruteforce_reference(word_lists):
    """bpe_train_merges must agree with the literal Python training loop
    on EVERY corpus — including degenerate runs like 'aaaaa' where the
    multi-pass replace rule (not canonical greedy) defines the result."""
    from multi_report_etl_pipeline_spark.operators.text import bpe_train_merges
    from tests.test_llm_ops import _bpe_python_reference

    spark = _shared_spark["spark"]
    texts = [" ".join("".join(w) for w in word_lists)]
    df = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    want = _bpe_python_reference(texts, n_merges=3)
    got = [tuple(r) for r in bpe_train_merges(df, n_merges=3).collect()]
    assert got == want, (got, want)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # tiny alphabet forces k-gram collisions within and across docs
        st.lists(st.sampled_from("ab"), min_size=1, max_size=16),
        min_size=1,
        max_size=10,
    )
)
def test_duplicate_runs_matches_bruteforce_reference(corpora):
    """duplicate_runs must agree with the literal Lee-et-al definition
    on EVERY corpus: a position is removable iff its k-gram occurs at
    another (doc, pos) and this one is not the global (doc_id, pos)
    minimum; removable positions whose starts are within k of each
    other merge into one maximal run covering [start, end + k - 1]."""
    from multi_report_etl_pipeline_spark.operators.dedup import duplicate_runs

    spark = _shared_spark["spark"]
    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    occ: dict[str, list[tuple[int, int]]] = {}
    for i, toks in enumerate(corpora):
        for p in range(len(toks) - k + 1):
            occ.setdefault(" ".join(toks[p : p + k]), []).append((i, p))
    removable: dict[int, list[int]] = {}
    for positions in occ.values():
        if len(positions) > 1:
            for d, p in sorted(positions)[1:]:
                removable.setdefault(d, []).append(p)
    expect = set()
    for d, ps in removable.items():
        ps.sort()
        start = prev = ps[0]
        n = 1
        for p in ps[1:]:
            if p - prev <= k:
                prev = p
                n += 1
            else:
                expect.add((d, start, prev + k - 1, n))
                start = prev = p
                n = 1
        expect.add((d, start, prev + k - 1, n))

    got = {
        (r["doc_id"], r["run_start"], r["run_end"], r["n_dup_grams"])
        for r in duplicate_runs(df, k=k).collect()
    }
    assert got == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # (user, minute, type) event tuples; duplicates force ties
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=30),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_transition_matrix_matches_bruteforce_reference(events):
    """The Markov pairing must equal the literal per-user successor
    definition under (ts, event_id) total order — including rows with
    identical timestamps, where the event_id tiebreak decides."""
    import datetime

    from pyspark.sql import functions as F

    from multi_report_etl_pipeline_spark.queries.events import (
        events_transition_matrix,
    )

    spark = _shared_spark["spark"]
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (u, m, t) in enumerate(events)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (r["event_type"], r["next_type"]): (r["n"], r["p"])
            for r in events_transition_matrix(spark, d).collect()
        }

    per_user: dict = {}
    for i, (u, m, t) in enumerate(events):
        per_user.setdefault(u, []).append((m, i, t))
    pairs: dict = {}
    for seq in per_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    src_tot: dict = {}
    for (a, _), n in pairs.items():
        src_tot[a] = src_tot.get(a, 0) + n
    want = {
        k: (n, round(n / src_tot[k[0]], 6)) for k, n in pairs.items()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # hourly counts for one key, hole-free by construction
        st.integers(min_value=0, max_value=9),
        min_size=2,
        max_size=40,
    )
)
def test_ewma_anomaly_matches_bruteforce_reference(counts):
    """EWMA and trailing z must equal the literal Python formulas on
    EVERY series — weight renormalization over missing leading lags,
    the 24-row trailing frame, and the n>=2 / var>0 guards included.
    Hours with cnt=0 come from the spine (no events that hour)."""
    import datetime
    import math
    import tempfile

    from multi_report_etl_pipeline_spark.queries.events import (
        events_ewma_anomaly,
    )

    spark = _shared_spark["spark"]
    # ensure first and last hour have >=1 event so the spine spans all
    counts = [max(counts[0], 1)] + counts[1:-1] + [max(counts[-1], 1)]
    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h, n in enumerate(counts):
        for i in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=i), 1,
                 "click", 1.0, "{}")
            )
            eid += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r["hour_ts"]: (r["cnt"], r["ewma"], r["zscore"], r["is_anomaly"])
            for r in events_ewma_anomaly(spark, d).collect()
        }
    assert len(got) == len(counts)
    W = [0.5**i for i in range(6)]
    for h, n in enumerate(counts):
        ts = (base + datetime.timedelta(hours=h)).strftime("%Y-%m-%d %H:%M:%S")
        lags = [counts[h - i] if h - i >= 0 else None for i in range(6)]
        num = sum(w * v for w, v in zip(W, lags) if v is not None)
        den = sum(w for w, v in zip(W, lags) if v is not None)
        ewma = round(num / den, 6)
        window = counts[max(0, h - 24) : h]
        z = None
        if len(window) >= 2:
            m = sum(window) / len(window)
            var = (sum(v * v for v in window) - len(window) * m * m) / (
                len(window) - 1
            )
            if var > 0:
                z = round((n - m) / math.sqrt(var), 6)
        flag = 1 if (z is not None and abs(z) > 3.0) else 0
        gc, ge, gz, gf = got[ts]
        assert gc == n and ge == ewma and gf == flag, (ts, got[ts], (n, ewma, z, flag))
        if z is None:
            assert gz is None, (ts, gz)
        else:
            assert gz is not None and abs(gz - z) < 1e-6, (ts, gz, z)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # (user, day, minute, type)
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=0, max_value=59),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_session_paths_matches_bruteforce_reference(events):
    """Top session paths must equal the literal per-user-day first-5
    concatenation under (ts, event_id) order, counted and cut by
    (count desc, path asc)."""
    import datetime
    import tempfile

    from multi_report_etl_pipeline_spark.queries.events import (
        events_session_paths,
    )

    spark = _shared_spark["spark"]
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(days=d, minutes=m), u, t, 1.0, "{}")
        for i, (u, d, m, t) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = [
            (r["path"], r["n_sessions"])
            for r in events_session_paths(spark, tmp).collect()
        ]

    per: dict = {}
    for i, (u, d, m, t) in enumerate(events):
        per.setdefault((u, d), []).append((m, i, t))
    counts: dict = {}
    for seq in per.values():
        seq.sort()
        path = ">".join(t for _, _, t in seq[:5])
        counts[path] = counts.get(path, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=11),
)
def test_global_ntile_matches_python_reference(values, k, nparts):
    """Distributed NTILE must equal the Python reference bucketing
    (first n%k buckets get one extra row) for ANY value multiset, bucket
    count, and partition count — including n < k, all-equal values
    (custkey-style tiebreak makes the order total), and single rows."""
    from multi_report_etl_pipeline_spark.operators.ranking import global_ntile
    from pyspark.sql import functions as F

    spark = _shared_spark["spark"]
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["bucket"]
        for r in global_ntile(
            df, [F.asc("v"), F.asc("id")], k, "bucket", num_partitions=nparts
        ).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    n = len(order)
    q, r = divmod(n, k)
    want = {}
    pos = 0
    for b in range(1, k + 1):
        size = q + (1 if b <= r else 0)
        for _ in range(size):
            if pos < n:
                want[order[pos][0]] = b
                pos += 1
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=65, max_value=400),  # n samples
            st.integers(min_value=1, max_value=3),  # channels
            st.sampled_from(["u8", "i16"]),
            st.integers(min_value=0, max_value=2**32 - 1),  # seed
        ),
        min_size=1,
        max_size=4,
    ),
    gain=st.integers(min_value=2, max_value=5),
)
def test_audio_fingerprint_properties(data, gain):
    """For ALL PCM shapes: the fingerprint equals an independent
    brute-force reference, is exactly invariant under integer gain
    (u8 deviations scaled around the 128 zero point), and both halves
    stay non-negative 32-bit."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.multimodal import (
        audio_fingerprint_array,
    )

    def brute(samples):
        center = 128 if samples.dtype == np.uint8 else 0
        dev = [sum(abs(int(v) - center) for v in row) for row in samples]
        n = len(dev)
        e = [sum(dev[(i * n) // 65 : ((i + 1) * n) // 65]) for i in range(65)]
        c = [((i + 1) * n) // 65 - (i * n) // 65 for i in range(65)]
        hi = lo = 0
        for i in range(64):
            if e[i + 1] * c[i] > e[i] * c[i + 1]:
                if i < 32:
                    lo |= 1 << i
                else:
                    hi |= 1 << (i - 32)
        return hi, lo

    for n, ch, kind, seed in data:
        rng = np.random.RandomState(seed % (2**32))
        if kind == "u8":
            dev = rng.randint(-25, 26, size=(n, ch))
            arr = (128 + dev).astype(np.uint8)
            scaled = (128 + gain * dev).astype(np.uint8)
        else:
            dev = rng.randint(-6000, 6001, size=(n, ch))
            arr = dev.astype(np.int16)
            scaled = (gain * dev).astype(np.int16)
        got = audio_fingerprint_array(arr)
        assert got == brute(arr)
        assert got == audio_fingerprint_array(scaled)  # exact gain invariance
        hi, lo = got
        assert 0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=8, max_value=40),
    w=st.integers(min_value=9, max_value=40),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
def test_dhash_stack_equals_per_frame_for_all_shapes(n, h, w, seed):
    """For ALL stack shapes: the batch-vectorized dHash is bit-identical
    to the audited per-frame dhash_array."""
    import numpy as np

    from multi_report_etl_pipeline_spark.operators.multimodal import (
        dhash_array,
        dhash_stack,
    )

    rng = np.random.RandomState(seed % (2**32))
    stack = rng.randint(0, 256, size=(n, h, w)).astype(np.uint8)
    hi, lo = dhash_stack(stack)
    for i in range(n):
        assert (int(hi[i]), int(lo[i])) == dhash_array(stack[i]), (n, h, w, i)
