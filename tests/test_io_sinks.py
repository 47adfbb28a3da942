"""Sink parity: CSV export (reference README.md:71-76), partitioned
parquet (the at-scale canonical sink), bucketed tables (the CREATE INDEX
replacement for co-located joins)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark.io import read_table, write_csv, write_parquet
from multi_report_etl_pipeline_spark.queries.reference import QUERIES
from tests.conftest import SF_DIR


def test_csv_export_roundtrip(spark, tmp_path):
    report = QUERIES["report_mortgage_portfolio"].fn(spark, SF_DIR)
    out = str(tmp_path / "mortgage_portfolio_report")
    write_csv(report, out, single_file=True)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1, "single_file export must produce one csv"
    back = spark.read.option("header", True).csv(out)
    assert back.count() == report.count()
    assert back.columns == report.columns


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    orders = read_table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(orders, out, partition_by=["order_year"])
    years = [d for d in os.listdir(out) if d.startswith("order_year=")]
    assert len(years) > 1
    back = spark.read.parquet(out).filter(F.col("order_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "order_year" in plan
    want = orders.filter(F.col("order_year") == 1995).count()
    assert back.count() == want


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    """Bucketed-by-key tables joined on the bucket key need no exchange —
    the Spark replacement for the reference's account_id indexes."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    warehouse = str(tmp_path / "wh")
    orders = read_table(spark, SF_DIR, "orders")
    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_parquet(orders, f"{warehouse}/b_orders", bucket_by=(8, ["o_orderkey"]), table_name="b_orders")
    write_parquet(li, f"{warehouse}/b_lineitem", bucket_by=(8, ["l_orderkey"]), table_name="b_lineitem")
    joined = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert joined.count() == li.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_csv_source_round_trips_orders(spark, tmp_path):
    """read_csv with explicit schema must reproduce the parquet rows
    (the reference's `.mode csv` ingestion path)."""
    from multi_report_etl_pipeline_spark.io import read_csv, read_table, write_csv

    orders = read_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_csv")
    write_csv(orders, path)
    schema = ", ".join(f"{n} {t}" for n, t in orders.dtypes)
    back = read_csv(spark, path, schema)
    want = sorted(tuple(map(repr, r)) for r in orders.collect())
    got = sorted(tuple(map(repr, r)) for r in back.collect())
    assert got == want


def test_csv_source_quarantines_corrupt_rows(spark, tmp_path):
    """PERMISSIVE mode with a corrupt-record column keeps bad lines as
    quarantine rows instead of failing the load."""
    from multi_report_etl_pipeline_spark.io import read_csv

    f = tmp_path / "dirty.csv"
    f.write_text("id,amount\n1,10.5\nnot_a_number,oops,extra\n2,20.0\n")
    df = read_csv(spark, str(f), "id bigint, amount double", corrupt_record_col="_bad")
    rows = df.collect()
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert {(r["id"], r["amount"]) for r in good} == {(1, 10.5), (2, 20.0)}
    assert len(bad) == 1 and "not_a_number" in bad[0]["_bad"]


def test_jsonl_round_trips_documents(spark, tmp_path):
    """write_jsonl -> read_jsonl with explicit schema must reproduce the
    documents table (the corpus interchange format)."""
    from multi_report_etl_pipeline_spark.io import read_jsonl, read_table, write_jsonl

    docs = read_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    schema = ", ".join(f"{n} {t}" for n, t in docs.dtypes)
    back = read_jsonl(spark, path, schema)
    want = sorted(tuple(map(repr, r)) for r in docs.collect())
    got = sorted(tuple(map(repr, r)) for r in back.collect())
    assert got == want


def test_jsonl_source_quarantines_corrupt_lines(spark, tmp_path):
    """Malformed JSON lines land in the quarantine column, not an error."""
    from multi_report_etl_pipeline_spark.io import read_jsonl

    f = tmp_path / "dirty.jsonl"
    f.write_text(
        '{"id": 1, "text": "ok"}\n'
        "{this is not json}\n"
        '{"id": 2, "text": "also ok"}\n'
    )
    df = read_jsonl(spark, str(f), "id bigint, text string", corrupt_record_col="_bad")
    rows = df.collect()
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert {(r["id"], r["text"]) for r in good} == {(1, "ok"), (2, "also ok")}
    assert len(bad) == 1 and "not json" in bad[0]["_bad"]


def test_events_readers_handle_both_timestamp_encodings(spark, tmp_path):
    """The fixture generator has shipped events.ts as TIMESTAMP(NANOS)
    (round 2) and TIMESTAMP(MICROS) (round 3); both the batch reader and
    the file-stream reader must adapt by probing the footer — the round-3
    regression was an unconditional DIV 1000 shrinking native-us values
    1000x. Write the SAME rows in both encodings and pin identical
    output from read_table, read_events_stream, and a binned range join."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from multi_report_etl_pipeline_spark import streaming
    from multi_report_etl_pipeline_spark.operators.asof import (
        binned_range_join,
        range_join,
    )

    base = dt.datetime(2024, 1, 1)
    rows = {
        "event_id": list(range(8)),
        "ts": [base + dt.timedelta(minutes=5 * i) for i in range(8)],
        "user_id": [1] * 8,
        "event_type": ["click", "error"] * 4,
        "value": [float(i) for i in range(8)],
        "props": ["{}"] * 8,
    }
    dirs = {}
    for enc in ("us", "ns"):
        d = tmp_path / f"enc_{enc}"
        d.mkdir()
        t = pa.table(
            {**rows, "ts": pa.array(rows["ts"], type=pa.timestamp(enc))}
        )
        pq.write_table(t, str(d / "events.parquet"), version="2.6",
                       coerce_timestamps=None)
        dirs[enc] = str(d)
    # sanity: the two files really carry different physical encodings
    assert str(pq.read_table(dirs["us"] + "/events.parquet").schema.field("ts").type) == "timestamp[us]"
    assert str(pq.read_table(dirs["ns"] + "/events.parquet").schema.field("ts").type) == "timestamp[ns]"

    def batch_vals(d):
        df = read_table(spark, d, "events")
        return sorted((r.event_id, str(r.ts)) for r in df.collect())

    def stream_vals(d):
        st = streaming.read_events_stream(spark, d)
        name = f"t_enc_{os.path.basename(d)}"
        streaming.run_available_now(
            st.groupBy("event_id").agg(F.max("ts").alias("ts")), name, "complete"
        )
        return sorted((r.event_id, str(r.ts)) for r in spark.table(name).collect())

    def binned_vals(d):
        ev = read_table(spark, d, "events")
        errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
        clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
        out = binned_range_join(
            errors, clicks, key="user_id", left_ts="ts", right_ts="ts",
            lower_s=900.0, upper_s=0.0, bin_width_s=600.0,
        )
        return sorted(
            (r["user_id"],) for r in out.select(F.col("l.user_id")).collect()
        )

    want = sorted((i, str(rows["ts"][i])) for i in range(8))
    for enc, d in dirs.items():
        assert batch_vals(d) == want, f"batch reader wrong for {enc}"
        assert stream_vals(d) == want, f"stream reader wrong for {enc}"
    assert binned_vals(dirs["us"]) == binned_vals(dirs["ns"])
    assert len(binned_vals(dirs["us"])) > 0


def test_bucket_facts_reregisters_persisted_layout(spark, tmp_path):
    """bucket_facts must (a) build the bucketed layout once, (b) on a
    fresh catalog (new process) re-register the EXISTING files as an
    external bucketed table without rewriting, and (c) keep the
    bucket-zip property through re-registration: the orderkey join
    plans with no hash exchange."""
    import os

    from multi_report_etl_pipeline_spark.operators.layout import bucket_facts

    base = str(tmp_path / "bf")
    names = bucket_facts(spark, SF_DIR, n_buckets=4, base_dir=base)
    li_name = names["lineitem"]
    path = os.path.join(base, li_name)
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    # one file per bucket (+ marker + _SUCCESS): the repartition(n, key)
    # alignment invariant the sorted-scan optimization needs
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 4, parts
    # simulate a new process: drop catalog entries, keep files
    for name in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    names2 = bucket_facts(spark, SF_DIR, n_buckets=4, base_dir=base)
    assert names2 == names
    mtimes2 = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    assert mtimes2 == mtimes, "re-registration must not rewrite files"
    li = spark.table(names2["lineitem"])
    orders = spark.table(names2["orders"])
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    from multi_report_etl_pipeline_spark.io import read_table

    assert joined.count() == read_table(spark, SF_DIR, "lineitem").count()


def test_bucket_facts_cleanup_is_dataset_scoped(spark, tmp_path):
    """Superseded-layout cleanup must be scoped to the BUILDING
    dataset: a build for one sf_dir must not delete another dataset's
    persisted layout of the same (table, key, n_buckets) — the ADVICE
    round-9 incident (pytest at sf0.01 deleted the sf100 layout).
    Markerless dirs (crashed builds) are reaped only once they are old
    enough that they cannot be a concurrent in-progress build."""
    import os
    import time

    from tests.conftest import SF_DIR_MED
    from multi_report_etl_pipeline_spark.operators.layout import bucket_facts

    base = str(tmp_path / "bf")
    names_a = bucket_facts(spark, SF_DIR, n_buckets=4, base_dir=base)
    dir_a = os.path.join(base, names_a["lineitem"])
    assert os.path.isdir(dir_a)

    # plant two markerless prefix-matching dirs: one fresh (simulating
    # a concurrent in-progress build), one stale (crash debris)
    fresh = os.path.join(base, "graft_b4_lineitem_orderkey_feedface00")
    stale = os.path.join(base, "graft_b4_lineitem_orderkey_deadbeef00")
    os.makedirs(fresh)
    os.makedirs(stale)
    old = time.time() - 3 * 3600
    os.utime(stale, (old, old))

    # building the SAME (table, key) for a DIFFERENT dataset: must keep
    # dataset A's layout and the fresh markerless dir, reap the stale
    for name in names_a.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    names_b = bucket_facts(spark, SF_DIR_MED, n_buckets=4, base_dir=base)
    assert names_b["lineitem"] != names_a["lineitem"]
    assert os.path.isdir(dir_a), "other dataset's layout was deleted"
    assert os.path.isdir(fresh), "recent markerless dir (possible "\
        "concurrent build) was deleted"
    assert not os.path.isdir(stale), "stale crash debris not reaped"

    # a fingerprint change WITHIN one dataset still reaps the
    # superseded layout: fake a superseded dir with a marker recording
    # dataset B
    for name in names_b.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    superseded = os.path.join(base, "graft_b4_lineitem_orderkey_0123456789")
    os.makedirs(superseded)
    with open(os.path.join(superseded, "_GRAFT_COMPLETE"), "w") as f:
        f.write(repr((SF_DIR_MED, (0, 0))))
    bucket_facts(spark, SF_DIR_MED, n_buckets=4, base_dir=base)
    assert not os.path.isdir(superseded), "superseded same-dataset "\
        "layout not reaped"
    assert os.path.isdir(dir_a)


def test_read_cache_session_and_fingerprint_invalidation(spark, tmp_path):
    """The lazy-scan memo (the session's artifact store) must (a) serve
    the cached plan on a same-session same-fingerprint hit, (b) re-plan
    when the fixture is rewritten, REPLACING the superseded entry
    rather than accumulating beside it (ADVICE r10), and (c) never
    serve one session's plan to a different session object — the store
    hangs off the session itself, so a replaced session starts empty
    and a collected session takes its plans with it (VERDICT r10
    item 9: the old id(spark)-keyed global could alias a reused id).
    The process store follows the same rule for artifacts owning a
    scratch dir: (d) a superseded IVF index dir is deleted."""
    import shutil

    from multi_report_etl_pipeline_spark import artifacts
    from multi_report_etl_pipeline_spark import io as io_mod
    from multi_report_etl_pipeline_spark.queries import llm_ops

    sf_dir = str(tmp_path)
    src = os.path.join(SF_DIR, "nation.parquet")
    dst = os.path.join(sf_dir, "nation.parquet")
    shutil.copyfile(src, dst)

    memo = artifacts.session_store(spark)
    memo.clear()
    df1 = io_mod.read_table(spark, sf_dir, "nation")
    assert io_mod.read_table(spark, sf_dir, "nation") is df1  # plan memo hit
    n_entries = len(memo)

    # rewrite the fixture in place: fingerprint changes -> new plan,
    # and the superseded entry is REPLACED, not retained
    os.utime(dst, (1, 1))
    df2 = io_mod.read_table(spark, sf_dir, "nation")
    assert df2 is not df1
    assert len(memo) == n_entries, "superseded entry leaked"

    # a different session object must get its own plan bound to it:
    # newSession() shares the context but is a distinct session, and
    # (unlike the old id(spark) global key) cannot see our entries
    other = spark.newSession()
    df3 = io_mod.read_table(other, sf_dir, "nation")
    assert df3 is not df2
    assert df3.sparkSession is other
    assert len(artifacts.session_store(other)) == 1
    # the original session's entry is untouched
    assert io_mod.read_table(spark, sf_dir, "nation") is df2

    memo.clear()

    # (d) the IVF index is an owned scratch dir: a rewrite of the
    # embeddings deletes the superseded index and replaces its entry
    emb = os.path.join(sf_dir, "embeddings.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "embeddings.parquet"), emb)

    def index_dir():
        return os.path.dirname(
            artifacts.get("ivf_index_path", sf_dir, ("embeddings",), lambda: None)
        )

    try:
        rows = sorted(map(repr, llm_ops.emb_ivf_indexed_topk(spark, sf_dir).collect()))
        first = index_dir()
        assert os.path.isdir(first)
        os.utime(emb, (1, 1))
        rerun = llm_ops.emb_ivf_indexed_topk(spark, sf_dir).collect()
        assert sorted(map(repr, rerun)) == rows
        assert not os.path.exists(first), "superseded index dir kept"
        assert os.path.isdir(index_dir())
        kinds = [k for k, d in artifacts.STORE.keys() if d == sf_dir]
        assert sorted(kinds) == ["ivf_centroids", "ivf_index_path"], kinds
    finally:
        artifacts.clear(sf_dir=sf_dir)
