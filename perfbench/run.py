"""Benchmark entry point.

    python3 perfbench/run.py --workload reports_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, pins the environment, starts one SparkSession at local[<cores>],
warms up, then drives the workload as one closed-loop client for at least
``--seconds`` seconds of measured time (whole requests), checks every
output against the DuckDB oracle and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics and writes the spans to
``.perfbench_work/traces/<workload>-<seed>.json``. Everything the run writes
stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")
TRACE_DIR = os.path.join(WORK, "traces")

# Driver JVM heap: below physical RAM and enough for sf0.1 in local mode.
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict[str, str]:
    """Environment the SparkSession and its Python workers start with."""
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        # Python UDF workers import the package from the checkout root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return env


def spark_conf(trace: bool) -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if trace:
        # keep every job and stage of the run readable from statusTracker()
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


# -- metric catalogue (must equal BENCHMARK.json) -------------------------

END_TO_END = {
    "setup_s": "s",
    "op_s_mean": "s",
    "ok_ratio": "ratio",
}

SELF_LAYERS = (
    "client",
    "build",
    "exec.reference",
    "exec.tpch",
    "exec.events",
    "exec.llm_ops",
    "io",
    "staging",
    "streaming",
)


def per_layer_catalogue() -> dict[str, str]:
    from workloads import ALL_OPS, MODULES  # noqa: PLC0415

    cat = {"session.get_spark_s": "s"}
    for m in MODULES:
        cat[f"queries.{m}.build_s_mean"] = "s"
        cat[f"queries.{m}.exec_s_mean"] = "s"
    cat.update(
        {
            "queries.build_jobs": "count",
            "staging.materialize_s": "s",
            "io.write_csv_s": "s",
            "io.bytes_written": "bytes",
            "quality.probe_s": "s",
            "streaming.drain_s": "s",
            "streaming.rows": "count",
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "llm_ops.construct_hit_ratio": "ratio",
            "llm_ops.construct_cache_entries": "count",
            "jvm.gc_s": "s",
            "jvm.heap_used_mb_peak": "MB",
            "jvm.retained_heap_mb": "MB",
            "process.peak_rss_mb": "MB",
            "oracle.check_s": "s",
            "trace.overhead_s": "s",
            "trace.op_s_mean": "s",
        }
    )
    for layer in SELF_LAYERS:
        cat[f"self_s.{layer}"] = "s"
    for name in ALL_OPS:
        cat[f"op.{name}.build_s"] = "s"
        cat[f"op.{name}.exec_s"] = "s"
    return cat


# -- process accounting ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the driver
    JVM and the Python workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other machines, over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process, the driver JVM
    and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# -- metrics ---------------------------------------------------------------


def failed_ops(state) -> int:
    return sum(1 for r in state.ops if not r.ok)


def end_to_end(state, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_s_mean": state.timed_s / len(state.requests),
        "ok_ratio": 1.0 - failed_ops(state) / max(len(state.ops), 1),
    }


def per_layer(
    state, tracer, jvm_stats: dict, session_s: float, rss_mb: float
) -> dict[str, float]:
    from tracing import mean, median  # noqa: PLC0415
    from workloads import ALL_OPS, MODULES, module_of  # noqa: PLC0415

    from multi_report_etl_pipeline_spark.queries import llm_ops  # noqa: PLC0415

    tracer.attach_job_counts()
    counts = {}
    for sp in tracer.spans:
        group = sp.counts.get("job_group")
        if group is not None:
            counts[group] = sp.counts
    queries = [r for r in state.ops if r.build_group is not None and r.name in ALL_OPS]
    out = {"session.get_spark_s": session_s}
    for m in MODULES:
        mine = [r for r in queries if module_of(r.name) == m]
        out[f"queries.{m}.build_s_mean"] = mean([r.build_s for r in mine])
        out[f"queries.{m}.exec_s_mean"] = mean([r.exec_s for r in mine])

    def jobs(group):
        return counts.get(group, {}).get("jobs", 0)

    out["queries.build_jobs"] = float(sum(jobs(r.build_group) for r in queries))
    for key in (
        "staging.materialize_s",
        "io.write_csv_s",
        "io.bytes_written",
        "quality.probe_s",
        "streaming.drain_s",
        "streaming.rows",
    ):
        out[key] = median(state.layer.get(key, []))
    n_ops = max(len(state.ops), 1)
    for kind in ("jobs", "stages", "tasks"):
        total = sum(c.get(kind, 0) for c in counts.values())
        out[f"spark.{kind}"] = total / n_ops
    llm_builds = [r for r in queries if module_of(r.name) == "llm_ops"]
    hits = sum(1 for r in llm_builds if jobs(r.build_group) == 0)
    out["llm_ops.construct_hit_ratio"] = hits / len(llm_builds) if llm_builds else 0.0
    out["llm_ops.construct_cache_entries"] = float(len(llm_ops._CONSTRUCT_CACHE))  # noqa: SLF001
    out["jvm.gc_s"] = jvm_stats["gc_s"]
    out["jvm.heap_used_mb_peak"] = jvm_stats["heap_peak_mb"]
    out["jvm.retained_heap_mb"] = jvm_stats["retained_mb"]
    out["process.peak_rss_mb"] = rss_mb
    out["oracle.check_s"] = state.check_s
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.op_s_mean"] = mean(state.requests)
    self_s = tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    for name in ALL_OPS:
        mine = [r for r in queries if r.name == name]
        out[f"op.{name}.build_s"] = median([r.build_s for r in mine])
        out[f"op.{name}.exec_s"] = median([r.exec_s for r in mine])
    return out


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- main ------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "multi_report_etl_pipeline_spark")):
        print("perfbench: the program (multi_report_etl_pipeline_spark) is not in this checkout", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    env = pin_environment()

    from tracing import JvmProbe, Tracer, tail  # noqa: PLC0415
    from workloads import WORKLOADS, Client, RunState  # noqa: PLC0415

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = benchmark_spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    catalogue = per_layer_catalogue() if args.trace else END_TO_END
    if {m["name"]: m["unit"] for m in wanted} != catalogue:
        print("perfbench: metric catalogue does not match BENCHMARK.json", file=sys.stderr)
        return 2

    from multi_report_etl_pipeline_spark.session import get_spark  # noqa: PLC0415

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = time.perf_counter()
    session_s = session_ready - t0
    try:
        state = RunState()
        tracer = Tracer(bool(args.trace), spark)
        client = Client(spark, tracer, state)
        jvm = JvmProbe(spark)
        gc0 = cpu0 = steal0 = 0.0

        def timed_start():
            nonlocal gc0, cpu0, steal0
            cpu0, steal0 = tree_cpu_s(), steal_s()
            if args.trace:
                jvm.reset_peaks()
                gc0 = jvm.gc_s()

        state.on_timed_start = timed_start
        WORKLOADS[args.workload](client, args.seed, args.seconds, RUN_DIR)
        timed_cpu_s, timed_steal_s = tree_cpu_s() - cpu0, steal_s() - steal0
        setup_s = (session_ready - T_START) + state.warmup_s
        rss = peak_rss_mb()
        if args.trace:
            # read before retained_mb(), whose full collection counts as GC
            jvm_stats = {"gc_s": jvm.gc_s() - gc0, "heap_peak_mb": jvm.heap_peak_mb()}
            jvm_stats["retained_mb"] = jvm.retained_mb()
            metrics = per_layer(state, tracer, jvm_stats, session_s, rss)
        else:
            metrics = end_to_end(state, setup_s)
        client.oracle.close()
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "requests": len(state.requests),
            "request_s": [list(r) for r in zip(state.request_names, state.requests)],
            "request_s_tail": tail(state.requests),
            "timed_s": state.timed_s,
            "timed_cpu_s": timed_cpu_s,
            "timed_steal_s": timed_steal_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "environment": {**env, "cores": cores(), "driver_memory": DRIVER_MEMORY},
            "failures": state.failures,
        }
        print("perfbench: " + json.dumps(summary), file=sys.stderr)
        if args.trace:
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.dump(
                os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}.json"),
                {**summary, "metrics": metrics},
            )
    finally:
        stop_spark(spark)
        shutil.rmtree(RUN_DIR, ignore_errors=True)

    result = {
        "correct": not state.failures,
        "attempted": len(state.ops),
        "failed": failed_ops(state),
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in catalogue.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
