"""Prepared registry queries (``queries.prepared``) and the artifact
store rules they rest on: a repeat call runs a fresh projection of the
memoized plan, a rewrite or a staging change replaces it, impure builds
are never memoized, and the store stays bounded."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from multi_report_etl_pipeline_spark import artifacts
from multi_report_etl_pipeline_spark.queries import all_queries, reference
from tests.conftest import SF_DIR, TABLES, assert_matches_oracle

REGISTRY = all_queries()
STAGING_BUILDS = (
    "report_mortgage_portfolio",
    "report_restructuring_pipeline",
    "report_commercial_promises",
    "quality_view_counts",
    "quality_duplicate_operations",
    "quality_null_keys",
    "quality_date_parse_failures",
)


def _copy(dst, tables=TABLES) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in tables:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", f"{dst}/{t}.parquet")
    return str(dst)


def _jobs(spark, group: str, call):
    """``call()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _oracle_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _prepared_names(spark, sf_dir: str) -> set[str]:
    return {
        k[0][1]
        for k in artifacts.session_store(spark).keys()
        if k[1] == sf_dir and isinstance(k[0], tuple) and k[0][0] == "prepared"
    }


@pytest.mark.parametrize(
    "name", ["tpch_q3_shipping_priority", "emb_ivf_indexed_topk", "report_mortgage_portfolio"]
)
def test_second_call_starts_no_build_job(spark, tmp_path, name):
    """The second call is a memo hit: no build job, a new DataFrame
    object, and the same exec jobs and rows as the first."""
    d = _copy(tmp_path / "snap")
    fn = REGISTRY[name].fn
    tag = f"prepared_{name}_{os.getpid()}"
    df1, build1 = _jobs(spark, f"{tag}_b1", lambda: fn(spark, d))
    rows1, exec1 = _jobs(spark, f"{tag}_e1", df1.collect)
    df2, build2 = _jobs(spark, f"{tag}_b2", lambda: fn(spark, d))
    rows2, exec2 = _jobs(spark, f"{tag}_e2", df2.collect)
    assert name in _prepared_names(spark, d)
    assert build2 == 0
    if name == "emb_ivf_indexed_topk":
        assert build1 > 0, "the index build should start jobs on a miss"
    assert df2 is not df1
    assert exec1 > 0 and exec2 == exec1
    assert sorted(map(repr, rows2)) == sorted(map(repr, rows1))


def test_in_place_rewrite_gives_oracle_equal_results(spark, tmp_path):
    """A prepared plan is fingerprinted by the tables under its sf_dir:
    after an in-place rewrite of lineitem the next call plans the new
    files and equals the DuckDB oracle on them, and the superseded plan
    is replaced rather than kept beside it."""
    d = _copy(tmp_path / "snap")
    names = ("tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "report_mortgage_portfolio")
    before = {n: sorted(map(repr, REGISTRY[n].fn(spark, d).collect())) for n in names}
    lineitem = pq.read_table(f"{d}/lineitem.parquet")
    pq.write_table(lineitem.slice(0, len(lineitem) // 2), f"{d}/lineitem.parquet")
    con = _oracle_con(d)
    try:
        for n in names:
            df = REGISTRY[n].fn(spark, d)
            assert sorted(map(repr, df.collect())) != before[n], n
            assert_matches_oracle(df, con, REGISTRY[n].oracle, schema="main")
    finally:
        con.close()
    keys = [k for k in artifacts.session_store(spark).keys() if k[1] == d]
    assert len(keys) == len(set(keys))
    assert sum(k[0] == ("prepared", names[0]) for k in keys) == 1


def test_prepared_reports_follow_staging_materialization(spark, tmp_path):
    """materialize_staging reroutes the prepared reports to the
    survivors, and after clear_materialized_staging no prepared report
    or probe reads the deleted dir; every call equals the oracle."""
    d = _copy(tmp_path / "drop", ("orders", "lineitem"))
    con = _oracle_con(d)

    def plans():
        out = {}
        for n in STAGING_BUILDS:
            df = REGISTRY[n].fn(spark, d)
            assert_matches_oracle(df, con, REGISTRY[n].oracle, schema="main")
            out[n] = df._jdf.queryExecution().executedPlan().toString()
        return out

    try:
        plans()
        reference.materialize_staging(spark, d, n_splits=4)
        path = reference._survivors(d)[0]  # noqa: SLF001
        owned = os.path.basename(os.path.dirname(path))
        materialized = plans()
        for n in STAGING_BUILDS[:4]:
            assert owned in materialized[n], materialized[n]
        reference.clear_materialized_staging(d)
        assert not os.path.exists(path)
        assert not any(owned in p for p in plans().values())
    finally:
        reference.clear_materialized_staging(d)
        con.close()


def test_impure_builds_are_not_prepared(spark, tmp_path, monkeypatch):
    """Builds of every registry query on a fresh snapshot: each
    streaming entry and each build that checkpoints or keeps persisted
    data in its plan stays unmemoized (it would replay build-time work),
    and the pure rest is memoized."""
    from pyspark.sql.classic.dataframe import DataFrame

    d = _copy(tmp_path / "snap")
    calls: dict[str, set[str]] = {}
    current = []
    for method in ("localCheckpoint", "checkpoint", "persist", "cache"):
        real = getattr(DataFrame, method)

        def spy(self, *a, _real=real, _method=method, **k):
            calls.setdefault(_method, set()).update(current)
            return _real(self, *a, **k)

        monkeypatch.setattr(DataFrame, method, spy)
    cached = set()
    for name, spec in REGISTRY.items():
        current[:] = [name]
        df = spec.fn(spark, d)
        plan = df._jdf.queryExecution().withCachedData().toString()
        if "InMemoryRelation" in plan:
            cached.add(name)
    current.clear()
    prepared = _prepared_names(spark, d)
    excluded = sorted(set(REGISTRY) - prepared)
    persisted = sorted(calls.get("persist", set()) | calls.get("cache", set()))
    print("excluded from prepared plans:", excluded)
    print("builds that call persist or cache:", persisted)
    streaming = {n for n in REGISTRY if n.startswith("streaming_")}
    checkpointed = calls.get("localCheckpoint", set()) | calls.get("checkpoint", set())
    assert streaming and checkpointed
    assert not streaming & prepared
    assert not checkpointed & prepared
    assert not cached & prepared
    assert len(prepared) > len(excluded)


def test_lru_bound_evicts_and_deletes_owned_dir(tmp_path):
    """Beyond MAX_ENTRIES the least recently used entry goes; an
    eviction is a drop, so it deletes the entry's owned dir."""
    store = artifacts.Store()
    d = str(tmp_path)
    owned = store.get("owned", d, (), lambda path: path, scratch="mrep_lru_test_")
    assert os.path.isdir(owned)
    for i in range(artifacts.MAX_ENTRIES - 1):
        store.get(("k", i), d, (), lambda i=i: i)
    assert store.get("owned", d, (), lambda path: path, scratch="mrep_lru_test_") == owned
    store.get(("k", "new"), d, (), lambda: 0)
    assert ("owned", d) in store.keys() and (("k", 0), d) not in store.keys()
    for i in range(artifacts.MAX_ENTRIES - 1):
        store.get(("k2", i), d, (), lambda i=i: i)
    assert ("owned", d) not in store.keys()
    assert not os.path.exists(owned)
    assert len(store) == artifacts.MAX_ENTRIES
    n = 2 * artifacts.MAX_ENTRIES
    assert store.stats() == {
        "hits": 1,
        "misses": n,
        "builds": n,
        "drops": n - artifacts.MAX_ENTRIES,
        "evictions": n - artifacts.MAX_ENTRIES,
    }


def test_process_store_drop_drops_session_entries(tmp_path):
    """A drop or clear of an sf_dir in the process store drops that
    sf_dir's entries of every session store, and a session entry's
    fingerprint holds the process store's count for its sf_dir."""
    parent = artifacts.Store()
    child = artifacts.Store(parent=parent)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (a, b):
        child.get("plan", d, (), lambda: 1)
    parent.get("artifact", a, (), lambda: 2)
    parent.clear("artifact", a)
    assert child.keys() == [("plan", b)]
    parent.clear("never_built", b)
    assert child.keys() == []
    built = []
    child.get("plan", a, (), lambda: built.append(1) or 1)
    parent._invalidations[a] += 1  # noqa: SLF001 - a drop that raced a build
    child.get("plan", a, (), lambda: built.append(1) or 1)
    assert len(built) == 2


def test_drop_cycles_leave_no_session_entries(spark, tmp_path):
    """reports_daily-style cycles (materialize, run the seven report and
    probe queries, clear, delete the drop) leave no entry of any cleared
    drop in the session store or the process store."""
    drops = []
    for i in range(3):
        d = _copy(tmp_path / f"drop{i}", ("orders", "lineitem"))
        drops.append(d)
        reference.materialize_staging(spark, d, n_splits=4)
        for name in STAGING_BUILDS:
            REGISTRY[name].fn(spark, d).collect()
        assert _prepared_names(spark, d) == set(STAGING_BUILDS)
        reference.clear_materialized_staging(d)
        shutil.rmtree(d)
    left = [k for k in artifacts.session_store(spark).keys() if k[1] in drops]
    left += [k for k in artifacts.STORE.keys() if k[1] in drops]
    assert left == [], left
