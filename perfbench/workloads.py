"""The benchmark's workloads, driven as one closed-loop client.

Each workload sends its next operation only after the previous one
returns, against the public API: ``session.get_spark``, the query registry
(``QuerySpec.fn`` builds, then a collect or CSV action executes),
``reference.materialize_staging``, ``io.write_csv`` and
``streaming.run_available_now``.

- ``reports_daily``: one operation is one new data drop run through the
  reference's job — materialize staging, build and export the three
  reports to CSV, collect the four quality probes — then one
  availableNow drain of the incremental staging stream over the drop's
  landing files.
- ``olap_serving``: one operation is one interactive query of a fixed
  mix (TPC-H, events and retrieval), built and collected over a warm
  snapshot; a round holds every query of the mix once, in an order drawn
  from the seed.

Snapshots hold a tenth of sf0.1's fact rows (15k orders / 60k lineitems,
10k events, 500 documents, 200 vectors) and drops a twentieth (7.5k
orders / 30k lineitems), next to sf0.1-sized dimensions, so that every
run, set-up included, fits the benchmark's time budget; the work is
dominated by per-action and plan-building costs at this size, as it is at
sf0.1.

Outputs are checked against the DuckDB oracle on the exact snapshot they
ran on, outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb

import gen
from tracing import Tracer

REPORTS = (
    "report_mortgage_portfolio",
    "report_restructuring_pipeline",
    "report_commercial_promises",
)
PROBES = (
    "quality_view_counts",
    "quality_duplicate_operations",
    "quality_null_keys",
    "quality_date_parse_failures",
)
# Small-result queries only: the per-action floor and plan building
# dominate them, not data. The quality probes are timed per drop by
# reports_daily, so this mix leaves them (and the staging table they
# need) out.
OLAP_MIX = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "tpch_q18_large_volume_customers",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q3_bucketed",
    "tpch_q18_bucketed",
    "events_windowed_counts",
    "events_sessionization",
    "events_gap_filled_hourly_rollup",
    "docs_bm25_topk",
    "emb_ivf_indexed_topk",
    "docs_hybrid_rrf_topk",
)
ALL_OPS = tuple(dict.fromkeys((*REPORTS, *PROBES, *OLAP_MIX)))
MODULES = ("reference", "tpch", "events", "llm_ops")
# The batch view the drained staging stream must reproduce.
STREAM_VIEW = "clean_contacts_primary"

# Input size of snapshots and drops as a share of sf0.1's fact rows. The
# warm-up drop has the same size as the timed ones: at another size AQE
# can pick other join strategies, whose code would then be generated and
# compiled inside the timed region.
SCALE = 0.1
# reports_daily runs two passes per batch, on drops half that size, so a
# run averages two passes and still fits the time budget.
DROP_SCALE = 0.05
DROPS_PER_BATCH = 2


@dataclass
class OpRecord:
    """One executed call: registry name (or layer call), its phase
    timings and outcome."""

    name: str
    snapshot: str
    build_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = True
    rows: list | None = None
    columns: list | None = None
    build_group: str | None = None
    exec_group: str | None = None
    df: object = None


@dataclass
class RunState:
    """What a workload hands back to the runner."""

    # one entry per timed operation: its name and wall time
    requests: list[float] = field(default_factory=list)
    request_names: list[str] = field(default_factory=list)
    ops: list[OpRecord] = field(default_factory=list)
    layer: dict[str, list[float]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    warmup_s: float = 0.0
    check_s: float = 0.0
    timed_s: float = 0.0
    # called once, when the timed region begins
    on_timed_start: object = None

    def add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)


def module_of(name: str) -> str:
    from multi_report_etl_pipeline_spark.queries import (  # noqa: PLC0415
        events,
        llm_ops,
        reference,
        tpch,
    )

    for mod_name, mod in (
        ("reference", reference),
        ("tpch", tpch),
        ("events", events),
        ("llm_ops", llm_ops),
    ):
        if name in mod.QUERIES:
            return mod_name
    raise KeyError(name)


@contextmanager
def staging_in_tmpdir():
    """``materialize_staging`` writes its table under /dev/shm when that
    exists, else under the temp directory. The benchmark keeps every
    write inside its checkout, so for the duration of the call /dev/shm
    reads as absent and the table lands under TMPDIR."""
    real_isdir = os.path.isdir

    def isdir(path):
        return False if path == "/dev/shm" else real_isdir(path)

    os.path.isdir = isdir
    try:
        yield
    finally:
        os.path.isdir = real_isdir


class Oracle:
    """DuckDB differential check: row count, column names and the
    order-insensitive canonical values of tests/conftest.py."""

    def __init__(self):
        from tests.conftest import canon_rows  # noqa: PLC0415

        self._canon = canon_rows
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}
        self._hashes: dict[tuple[str, str], str] = {}

    def _con(self, snapshot: str) -> duckdb.DuckDBPyConnection:
        con = self._cons.get(snapshot)
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            for t in gen.TABLES:
                path = os.path.join(snapshot, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self._cons[snapshot] = con
        return con

    def digest(self, columns: list[str], rows: list) -> str:
        cols, canon = self._canon(columns, [tuple(r) for r in rows])
        h = hashlib.sha256(repr(cols).encode())
        for row in canon:
            h.update(repr(row).encode())
        return h.hexdigest()

    def check(self, name: str, sql: str | None, snapshot: str, columns, rows) -> str | None:
        """None when the result matches; else a one-line reason. Without
        an oracle the result must hash the same on every repeat."""
        digest = self.digest(columns, rows)
        key = (name, snapshot)
        if key in self._hashes:
            if self._hashes[key] != digest:
                return f"{name}: result changed between repeats on one snapshot"
            return None
        if sql is not None:
            res = self._con(snapshot).execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(dcols) != sorted(columns):
                return f"{name}: columns {sorted(columns)} != oracle {sorted(dcols)}"
            if len(drows) != len(rows):
                return f"{name}: {len(rows)} rows != oracle {len(drows)}"
            if self.digest(dcols, drows) != digest:
                return f"{name}: values differ from the oracle"
        self._hashes[key] = digest
        return None

    def forget(self, snapshot: str) -> None:
        con = self._cons.pop(snapshot, None)
        if con is not None:
            con.close()

    def close(self) -> None:
        for snapshot in list(self._cons):
            self.forget(snapshot)


class Client:
    """The closed-loop client: builds and executes one call at a time,
    records phase timings, spans and outcomes."""

    def __init__(self, spark, tracer: Tracer, state: RunState):
        from multi_report_etl_pipeline_spark.queries import all_queries  # noqa: PLC0415

        self.spark = spark
        self.tracer = tracer
        self.state = state
        self.registry = all_queries()
        self.oracle = Oracle()
        self._seq = 0

    def op_id(self, name: str) -> str:
        self._seq += 1
        return f"{self._seq:05d}:{name}"

    def fail(self, what: str) -> None:
        self.state.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def run_query(
        self, name: str, snapshot: str, action, timed: bool = True, exec_layer: str | None = None
    ) -> OpRecord:
        """Build ``name`` with QuerySpec.fn, then execute it with
        ``action(df)``, which returns (columns, rows) or None."""
        op_id = self.op_id(name)
        exec_layer = exec_layer or f"exec.{module_of(name)}"
        rec = OpRecord(name, snapshot, build_group=f"{op_id}/build", exec_group=f"{op_id}/exec")
        try:
            t0 = time.perf_counter()
            with self.tracer.span(f"{name}.build", "build", op_id, rec.build_group):
                df = self.registry[name].fn(self.spark, snapshot)
            t1 = time.perf_counter()
            with self.tracer.span(f"{name}.exec", exec_layer, op_id, rec.exec_group):
                out = action(df)
            t2 = time.perf_counter()
            rec.build_s, rec.exec_s = t1 - t0, t2 - t1
            rec.df = df
            if out is not None:
                rec.columns, rec.rows = out
        except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
            rec.ok = False
            self.fail(f"{name} on {snapshot}: {traceback.format_exc()}")
        if timed:
            self.state.ops.append(rec)
        return rec

    def run_layer(self, name: str, layer: str, snapshot: str, call, timed: bool) -> OpRecord:
        """Time one direct call into a layer (no registry build phase)."""
        op_id = self.op_id(name)
        rec = OpRecord(name, snapshot, exec_group=f"{op_id}/exec")
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer, op_id, rec.exec_group):
                call()
        except Exception:  # noqa: BLE001
            rec.ok = False
            self.fail(f"{name} on {snapshot}: {traceback.format_exc()}")
        rec.exec_s = time.perf_counter() - t0
        if timed:
            self.state.ops.append(rec)
        return rec

    def check(self, rec: OpRecord, oracle_name: str | None = None) -> None:
        """Oracle-check one executed call, untimed, against the oracle of
        registry entry ``oracle_name`` (default: the call's own name)."""
        if not rec.ok or rec.rows is None:
            return
        name = oracle_name or rec.name
        t0 = time.perf_counter()
        with self.tracer.span(f"{rec.name}.check", "oracle", None):
            reason = self.oracle.check(
                name, self.registry[name].oracle, rec.snapshot, rec.columns, rec.rows
            )
        self.state.check_s += time.perf_counter() - t0
        rec.rows = None
        if reason is not None:
            rec.ok = False
            self.fail(reason)

    def set_up(self, warm) -> None:
        """Run the untimed warm-up; its time, minus oracle checks, counts
        toward set-up. The timed region starts right after."""
        t0 = time.perf_counter()
        warm()
        self.state.warmup_s = time.perf_counter() - t0 - self.state.check_s
        self.state.check_s = 0.0
        self.tracer.spans.clear()
        if self.state.on_timed_start is not None:
            self.state.on_timed_start()

    def loop(self, seconds: float, one, batch: int = 1) -> None:
        """Closed loop in whole batches of ``batch`` operations until the
        measured time reaches ``seconds``: ``one()`` runs one operation
        and returns (name, wall seconds)."""
        while self.state.timed_s < seconds:
            for _ in range(batch):
                name, wall = one()
                self.state.requests.append(wall)
                self.state.request_names.append(name)
                self.state.timed_s += wall


def collect(df):
    return df.columns, df.collect()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- reports_daily -------------------------------------------------------


def _reports_pass(client: Client, drop_dir: str, out_dir: str, timed: bool) -> float:
    """One operation: the reference's job over one drop, then the
    incremental staging drain. Returns its wall time; the per-layer
    timings land in ``client.state.layer``."""
    from multi_report_etl_pipeline_spark import io, staging, streaming  # noqa: PLC0415
    from multi_report_etl_pipeline_spark.queries import reference  # noqa: PLC0415

    state, tracer, spark = client.state, client.tracer, client.spark
    tag = os.path.basename(drop_dir)
    table = f"perfbench_staging_{tag}"
    recs: list[OpRecord] = []
    t_start = time.perf_counter()
    with tracer.span(f"request.{tag}", "client", tag):

        def materialize():
            with staging_in_tmpdir():
                reference.materialize_staging(spark, drop_dir)

        mat = client.run_layer("staging.materialize", "staging", drop_dir, materialize, timed)
        csv_s = 0.0
        for name in REPORTS:
            path = os.path.join(out_dir, tag, name)

            def export(df, path=path):
                io.write_csv(df, path, single_file=True)

            rec = client.run_query(name, drop_dir, export, timed, exec_layer="io")
            csv_s += rec.exec_s
            recs.append(rec)
        probe_s = 0.0
        for name in PROBES:
            rec = client.run_query(name, drop_dir, collect, timed)
            probe_s += rec.build_s + rec.exec_s
            recs.append(rec)

        def drain():
            activities = streaming.read_activities_stream(spark, drop_dir)
            streaming.run_available_now(
                streaming.contact_survivors_stream(activities), table, "complete"
            )

        drained = client.run_layer("streaming.drain", "streaming", drop_dir, drain, timed)
    wall = time.perf_counter() - t_start

    # untimed: layer bookkeeping and oracle checks
    if timed:
        state.add("staging.materialize_s", mat.exec_s)
        state.add("io.write_csv_s", csv_s)
        state.add("io.bytes_written", float(_dir_bytes(os.path.join(out_dir, tag))))
        state.add("quality.probe_s", probe_s)
    for rec in recs:
        if rec.ok and rec.name in REPORTS:
            rec.columns, rec.rows = collect(rec.df)
        client.check(rec)
    if drained.ok:
        survivors = spark.table(table)
        if timed:
            state.add("streaming.drain_s", drained.exec_s)
            state.add("streaming.rows", float(survivors.count()))
        drained.columns, drained.rows = collect(
            staging.clean_views_from_survivors(survivors)[STREAM_VIEW]
        )
        client.check(drained, oracle_name=STREAM_VIEW)
        spark.catalog.dropTempView(table)
    client.oracle.forget(drop_dir)
    reference.clear_materialized_staging(drop_dir)
    shutil.rmtree(os.path.join(out_dir, tag), ignore_errors=True)
    return wall


def reports_daily(client: Client, seed: int, seconds: float, work: str) -> None:
    base = gen.write_snapshot(seed, os.path.join(work, "base"), DROP_SCALE)
    out_dir = os.path.join(work, "exports")
    drop = 1
    warm_dir = gen.write_drop(seed, drop, base, os.path.join(work, f"drop{drop}"), DROP_SCALE)
    client.set_up(lambda: _reports_pass(client, warm_dir, out_dir, timed=False))
    shutil.rmtree(warm_dir, ignore_errors=True)

    def one():
        nonlocal drop
        drop += 1
        drop_dir = gen.write_drop(seed, drop, base, os.path.join(work, f"drop{drop}"), DROP_SCALE)
        wall = _reports_pass(client, drop_dir, out_dir, timed=True)
        shutil.rmtree(drop_dir, ignore_errors=True)
        return os.path.basename(drop_dir), wall

    client.loop(seconds, one, batch=DROPS_PER_BATCH)


# -- olap_serving --------------------------------------------------------


def olap_sequence(seed: int, rounds: int) -> list[str]:
    """The seeded query sequence: every query of the mix has the same
    weight, so each round is the whole mix in an order drawn from the
    seed."""
    rng = random.Random(seed)
    seq: list[str] = []
    for _ in range(rounds):
        order = list(OLAP_MIX)
        rng.shuffle(order)
        seq.extend(order)
    return seq


def olap_serving(client: Client, seed: int, seconds: float, work: str) -> None:
    snap = gen.write_snapshot(seed, os.path.join(work, "snapshot"), SCALE)

    def warm():
        # the bucketed layouts, the rollup and the ANN and BM25 artifacts
        # are all built by one untimed, checked round
        for name in OLAP_MIX:
            client.check(client.run_query(name, snap, collect, timed=False))

    client.set_up(warm)
    seq = olap_sequence(seed, rounds=64)

    def one():
        name = seq[len(client.state.requests) % len(seq)]
        t = time.perf_counter()
        with client.tracer.span(f"request.{name}", "client", name):
            rec = client.run_query(name, snap, collect)
        wall = time.perf_counter() - t
        client.check(rec)
        return name, wall

    # whole rounds: every query of the mix once per round
    client.loop(seconds, one, batch=len(OLAP_MIX))


WORKLOADS = {
    "reports_daily": reports_daily,
    "olap_serving": olap_serving,
}
