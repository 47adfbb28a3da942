"""Constructed dirty-fixture tests: the cleansing paths the synthetic
tables only lightly exercise (FIXTURES.md dirty-row inventory; SURVEY.md
§5.2 property list)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from multi_report_etl_pipeline_spark import reports, staging

ACT_FIELDS = [
    "account_id",
    "activity_id",
    "row_fp",
    "activity_date",
    "activity_time",
    "next_activity_date",
    "collection_channel",
    "contact_type",
    "contact_outcome",
    "non_payment_reason",
    "contact_location",
    "next_action",
    "notes",
    "phone_number",
    "department",
    "agent_name",
]


def _activity(**kw):
    base = {
        "account_id": 1,
        "activity_id": 1,
        "row_fp": None,  # defaults to activity_id (unique in these fixtures)
        "activity_date": "15/06/2025",
        "activity_time": "10:00:00",
        "next_activity_date": "22/06/2025",
        "collection_channel": "PHONE",
        "contact_type": "PRIMARY",
        "contact_outcome": "NO_ANSWER",
        "non_payment_reason": None,
        "contact_location": "LOC_1",
        "next_action": None,
        "notes": None,
        "phone_number": None,
        "department": "COLLECTIONS",
        "agent_name": "AGENT_1",
    }
    base.update(kw)
    if base["row_fp"] is None:
        base["row_fp"] = base["activity_id"]
    return Row(**{k: base[k] for k in ACT_FIELDS})


def _activities_df(spark, rows):
    schema = (
        "account_id bigint, activity_id bigint, row_fp bigint, activity_date string, "
        "activity_time string, next_activity_date string, collection_channel string, "
        "contact_type string, contact_outcome string, non_payment_reason string, "
        "contact_location string, next_action string, notes string, "
        "phone_number string, department string, agent_name string"
    )
    return spark.createDataFrame(rows, schema=schema)


def _primary(df):
    return staging.contact_views(df)["clean_contacts_primary"].collect()


def test_malformed_dates_sort_last_and_null(spark):
    """All-malformed account keeps one row with NULL date; a valid date
    beats a malformed one under DESC NULLS LAST."""
    df = _activities_df(
        spark,
        [
            _activity(account_id=1, activity_id=1, activity_date="31/02/2025"),
            _activity(account_id=1, activity_id=2, activity_date="junk"),
            _activity(account_id=2, activity_id=3, activity_date="bad"),
            _activity(account_id=2, activity_id=4, activity_date="01/01/2020"),
        ],
    )
    out = {r.account_id: r for r in _primary(df)}
    assert out[1].activity_date is None  # deterministic survivor, null date
    assert str(out[2].activity_date) == "2020-01-01"  # valid date wins


def test_tie_broken_by_activity_id(spark):
    """Full ties on (channel, contact, date) must fall to activity_id ASC
    (the SURVEY §2.5 determinism fix)."""
    df = _activities_df(
        spark,
        [
            _activity(account_id=1, activity_id=7, notes="late"),
            _activity(account_id=1, activity_id=3, notes="early"),
        ],
    )
    out = _primary(df)
    assert len(out) == 1 and out[0].notes == "early"


def test_auto_dialer_beats_no_contact_arm(spark):
    df = _activities_df(
        spark,
        [
            _activity(account_id=1, contact_type="NO_CONTACT", agent_name="AUTO_DIALER"),
            _activity(account_id=2, activity_id=2, contact_type="NO_CONTACT"),
            _activity(account_id=3, activity_id=3, collection_channel="WHATSAPP",
                      contact_type="SOMETHING_NEW"),
        ],
    )
    out = {r.account_id: r for r in _primary(df)}
    assert out[1].contact_type == "04.AUTO_DIALER"
    assert out[2].contact_type == "03.NO_CONTACT"
    assert out[3].collection_channel == "UNCLASSIFIED_CHANNEL"
    assert out[3].contact_type == "UNCLASSIFIED_CONTACT"


def test_null_account_ids_form_single_group(spark):
    df = _activities_df(
        spark,
        [
            _activity(account_id=None, activity_id=1),
            _activity(account_id=None, activity_id=2),
        ],
    )
    out = _primary(df)
    assert len(out) == 1  # NULL keys group together (matches both hosts)


def test_account_without_contacts_gets_sentinels(spark):
    accounts = spark.createDataFrame(
        [
            Row(
                collection_company="AGENCY_A",
                account_id=42,
                account_checkdigit="1",
                agent_type="INTERNAL",
                customer_name="CUSTOMER_42",
                product_type="MORTGAGE",
                risk_segment="A",
                outstanding_balance=1000.0,
                agent_name="AGENT_1",
                operation_number=1,
                containment_percentage=0,
                business_division="RETAIL",
                customer_city="METRO_AREA_1",
            )
        ]
    )
    empty = _activities_df(spark, [_activity(account_id=999)])
    views = staging.contact_views(empty)
    report = reports.report_mortgage_portfolio(
        staging.clean_accounts(accounts),
        views["clean_contacts_primary"],
        views["clean_contacts_field"],
    ).collect()
    assert len(report) == 1
    row = report[0]
    assert row.contact_phone == "NO_CONTACT"
    assert row.activity_notes == "NO_CONTACT"
    assert row.contact_type == "NO_CONTACT"
    assert row.last_activity_date == "NO_CONTACT"
    assert row.field_visit_completed == "NO"
    assert row.coverage_area == "YES"


def test_report_dedup_keeps_worst_risk_then_lowest_operation(spark):
    """One account, several operations: survivor is risk DESC then
    operation_number ASC."""
    mk = lambda op, risk: Row(
        collection_company="AGENCY_A",
        account_id=1,
        account_checkdigit="1",
        agent_type="INTERNAL",
        customer_name="C",
        product_type="MORTGAGE",
        risk_segment=risk,
        outstanding_balance=1.0,
        agent_name="A",
        operation_number=op,
        containment_percentage=0,
        business_division="RETAIL",
        customer_city="PROVINCE_1",
    )
    accounts = spark.createDataFrame([mk(10, "B"), mk(11, "E"), mk(12, "E")])
    empty = _activities_df(spark, [_activity(account_id=999)])
    views = staging.contact_views(empty)
    report = reports.report_mortgage_portfolio(
        staging.clean_accounts(accounts),
        views["clean_contacts_primary"],
        views["clean_contacts_field"],
    ).collect()
    assert len(report) == 1
    assert (report[0].risk_segment, report[0].operation_number) == ("E", 11)


def test_duplicate_activity_id_broken_by_row_fp(spark):
    """activity_id is duplicated in the raw fixtures (it is a dirty
    operational id); full ties through activity_id must fall to the
    unique row_fp fingerprint so the survivor is deterministic."""
    df = _activities_df(
        spark,
        [
            _activity(account_id=1, activity_id=5, row_fp=200, notes="late"),
            _activity(account_id=1, activity_id=5, row_fp=100, notes="early"),
        ],
    )
    out = _primary(df)
    assert len(out) == 1 and out[0].notes == "early"


def test_clean_views_invariant_under_input_permutation(spark):
    """Dedup orders must be total: reshuffling the input rows (different
    partitioning AND different within-partition order) may never change
    any clean view's output, in either physical form (lazy windows,
    min_by survivors), and the two forms agree. This is the regression
    net for the duplicated-activity_id class of bug that row_fp closes."""
    import random

    from multi_report_etl_pipeline_spark.queries.reference import build_staging

    base = build_staging(spark, "/root/testdata/sf0.001")["stg_activities"]
    rows = base.collect()
    want = None
    for seed in (1, 2, 3):
        shuffled = rows[:]
        random.Random(seed).shuffle(shuffled)
        df = spark.createDataFrame(shuffled, base.schema).repartition(seed + 2)
        forms = (
            staging.contact_views(df),
            staging.clean_views_from_survivors(staging.combined_contact_survivors(df)),
        )
        for views in forms:
            got = {
                name: sorted(tuple(map(repr, r)) for r in view.collect())
                for name, view in views.items()
            }
            if want is None:
                want = got
            else:
                assert got == want, "clean view changed under input permutation"


def test_new_operators_handle_empty_inputs(spark):
    """Empty inputs are routine at scale (empty partitions, empty update
    batches, a benchmark with no overlap): every round-3 operator must
    return an empty (or identity) result, not throw."""
    from multi_report_etl_pipeline_spark.operators import similarity, text
    from multi_report_etl_pipeline_spark.operators.dedup import contamination_flags
    from multi_report_etl_pipeline_spark.operators.sampling import split_assignment
    from multi_report_etl_pipeline_spark.operators.snapshot import snapshot_diff

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert text.chunk_tokens(docs).count() == 0
    assert text.vocabulary(docs).count() == 0
    assert text.tfidf_top_terms(docs).count() == 0
    assert split_assignment(docs, "doc_id").count() == 0

    some_docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    # empty benchmark -> nothing is contaminated; empty corpus -> no rows
    assert contamination_flags(some_docs, docs, n=2).count() == 0
    assert contamination_flags(docs, some_docs, n=2).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label long")
    assert similarity.cosine_dedup(emb).count() == 0

    kv = spark.createDataFrame([], "k long, v string")
    some_kv = spark.createDataFrame([(1, "a")], "k long, v string")
    assert {r.change for r in snapshot_diff(kv, some_kv, key_cols=["k"]).collect()} == {"added"}
    assert {r.change for r in snapshot_diff(some_kv, kv, key_cols=["k"]).collect()} == {"removed"}
    assert snapshot_diff(kv, kv, key_cols=["k"]).count() == 0


def test_funnel_and_cohort_handle_empty_events(spark):
    import multi_report_etl_pipeline_spark.queries.events as events_mod

    empty = spark.createDataFrame([], "user_id long, event_type string, ts timestamp")
    orig = events_mod.read_table
    events_mod.read_table = lambda *_a, **_k: empty
    try:
        funnel = {r.step: r.users for r in events_mod.conversion_funnel(spark, "x").collect()}
        assert funnel == {"signup": 0, "click_after_signup": 0, "purchase_after_click": 0}
        assert events_mod.cohort_retention(spark, "x").count() == 0
    finally:
        events_mod.read_table = orig


def test_fixture_money_domains_are_nonnegative(duck):
    """The long-cents conversions (events.VALUE_CENTS, tpch q1) rely on
    x*100 + 0.5 truncation == half-up ROUND, which holds only for
    non-negative inputs (truncation rounds toward zero). Pin the fixture
    domain so a regenerated dataset with negative money/values fails
    HERE with a pointer, not as an oracle hash mismatch."""
    (vmin,) = duck.execute("SELECT MIN(value) FROM sf_med.events").fetchone()
    assert vmin >= 0, "events.value went negative: revisit VALUE_CENTS"
    row = duck.execute(
        "SELECT MIN(l_quantity), MIN(l_extendedprice), MIN(l_discount),"
        " MIN(l_tax) FROM sf_med.lineitem"
    ).fetchone()
    assert all(v >= 0 for v in row), "lineitem money went negative: q1 cents"


def test_round4_operators_handle_empty_and_tiny_inputs(spark):
    """Round-4 operators under the same discipline: empty inputs return
    empty results; k-means with fewer vectors than k degrades to
    |corpus| clusters instead of throwing."""
    from multi_report_etl_pipeline_spark.operators import text
    from multi_report_etl_pipeline_spark.operators.dedup import span_dedup
    from multi_report_etl_pipeline_spark.operators.similarity import (
        distributed_kmeans,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert text.repetition_stats(docs).count() == 0
    assert span_dedup(docs).count() == 0
    assert text.bm25_topk(docs, ["spark"], k=5).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert distributed_kmeans(emb, k=3, iters=2).count() == 0

    two = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 9.0])], "vec_id long, embedding array<float>"
    )
    got = {r["id"]: r["cluster"] for r in distributed_kmeans(two, k=5, iters=2).collect()}
    assert got == {0: 0, 1: 1}

    # NULL text: repetition/span drop the doc (matching the oracles'
    # inner joins over exploded tokens); bm25 survives an all-NULL
    # corpus (count(*) > 0 but avg/df aggregate to None)
    nulls = spark.createDataFrame(
        [(1, None), (2, "a b c d e f")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in text.repetition_stats(nulls).collect()} == {2}
    assert {r["doc_id"] for r in span_dedup(nulls).collect()} == {2}
    all_null = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert text.bm25_topk(all_null, ["spark"], k=5).count() == 0
    assert {r["doc_id"] for r in text.bm25_topk(nulls, ["a"], k=5).collect()} == {2}
