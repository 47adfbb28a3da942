"""Self-tests of the benchmark itself (no SparkSession needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import gen
import pyarrow.parquet as pq
import pytest
import run
import tracing
import workloads


def _digests(d: str) -> dict[str, str]:
    return {
        t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
        for t in gen.TABLES
    }


# -- the percentile rule --------------------------------------------------


@pytest.mark.parametrize(
    "q,n,ok",
    [(50, 19, False), (50, 20, True), (90, 99, False), (90, 100, True), (99, 999, False), (99, 1000, True)],
)
def test_percentile_needs_ten_samples_beyond(q, n, ok):
    assert tracing.reportable(q, n) is ok
    value = tracing.percentile([float(i) for i in range(n)], q)
    assert (value is not None) is ok


def test_percentile_values_and_tail():
    xs = [float(i) for i in range(1, 101)]
    assert tracing.percentile(xs, 90) == 90.0
    assert tracing.percentile(xs, 50) == 50.0
    assert tracing.tail(xs) == (90, 90.0)
    assert tracing.tail(xs[:25]) == (50, 13.0)
    assert tracing.tail(xs[:19]) is None


# -- generator determinism -------------------------------------------------


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.write_snapshot(5, str(tmp_path / "a"), workloads.SCALE)
    b = gen.write_snapshot(5, str(tmp_path / "b"), workloads.SCALE)
    c = gen.write_snapshot(6, str(tmp_path / "c"), workloads.SCALE)
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert da == db
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert da[t] != dc[t], t


def test_drops_are_deterministic_with_disjoint_keys(tmp_path):
    base = gen.write_snapshot(5, str(tmp_path / "base"), workloads.SCALE)
    d2 = gen.write_drop(5, 2, base, str(tmp_path / "d2"), scale=0.01)
    d2b = gen.write_drop(5, 2, base, str(tmp_path / "d2b"), scale=0.01)
    d3 = gen.write_drop(5, 3, base, str(tmp_path / "d3"), scale=0.01)
    assert _digests(d2) == _digests(d2b)
    assert _digests(d2)["lineitem"] != _digests(d3)["lineitem"]
    k2 = pq.read_table(os.path.join(d2, "orders.parquet")).column("o_orderkey").to_pylist()
    k3 = pq.read_table(os.path.join(d3, "orders.parquet")).column("o_orderkey").to_pylist()
    assert not set(k2) & set(k3)
    li = pq.read_table(os.path.join(d2, "lineitem.parquet")).column("l_orderkey").to_pylist()
    assert set(li) <= set(k2)
    # every table the registry reads is present in the drop
    assert sorted(os.listdir(d2)) == sorted(f"{t}.parquet" for t in gen.TABLES)


def test_olap_sequence_is_seeded_rounds():
    a = workloads.olap_sequence(1, 3)
    assert a == workloads.olap_sequence(1, 3)
    assert a != workloads.olap_sequence(2, 3)
    n = len(workloads.OLAP_MIX)
    for r in range(3):
        assert sorted(a[r * n : (r + 1) * n]) == sorted(workloads.OLAP_MIX)


# -- printed metric names match BENCHMARK.json -----------------------------


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_catalogues_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_catalogue()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_printed_metrics_are_exactly_the_catalogue():
    state = workloads.RunState(requests=[2.0, 1.0, 3.0], timed_s=6.0)
    state.ops = [workloads.OpRecord("a", "s"), workloads.OpRecord("b", "s", ok=False)]
    e2e = run.end_to_end(state, setup_s=1.5)
    assert set(e2e) == set(run.END_TO_END)
    assert e2e["op_s_mean"] == 2.0 and e2e["ok_ratio"] == 0.5
    layer = run.per_layer(
        state,
        tracing.Tracer(False),
        {"gc_s": 0.1, "heap_peak_mb": 10.0, "retained_mb": 5.0},
        session_s=1.0,
        rss_mb=200.0,
    )
    assert set(layer) == set(run.per_layer_catalogue())
