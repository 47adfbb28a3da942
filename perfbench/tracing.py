"""Benchmark-side tracing: spans around the calls the benchmark makes into
each layer, plus the counts read at the same boundaries.

Nothing here reaches into the program's code. Spans are opened and closed
by the benchmark around its own calls; Spark job, stage and task counts
come from ``SparkContext.statusTracker()`` by job group, and GC time and
heap peaks from the JVM's management beans over py4j. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import gc
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Tail percentiles considered, highest first. A percentile is reportable
# only if at least MIN_BEYOND samples lie beyond it.
TAIL_PERCENTILES = (99, 90, 50)
MIN_BEYOND = 10


def samples_beyond(q: float, n: int) -> int:
    """Samples strictly above the q-th percentile of n samples."""
    return n - math.ceil(n * q / 100.0)


def reportable(q: float, n: int) -> bool:
    return samples_beyond(q, n) >= MIN_BEYOND


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile, or None when fewer than MIN_BEYOND
    samples lie beyond it."""
    n = len(samples)
    if not reportable(q, n):
        return None
    return sorted(samples)[max(math.ceil(n * q / 100.0) - 1, 0)]


def tail(samples: list[float]) -> tuple[int, float] | None:
    """Highest reportable tail percentile as (q, value), or None."""
    for q in TAIL_PERCENTILES:
        value = percentile(samples, q)
        if value is not None:
            return q, value
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def mean(samples: list[float]) -> float:
    return statistics.fmean(samples) if samples else 0.0


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; when disabled every call is a no-op
    apart from the clock reads the untraced run makes anyway."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, op_id: str | None = None, group: str | None = None):
        """Time one call into a layer. ``group`` tags the Spark jobs the
        call launches so their counts can be read back afterwards."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(
            span_id=len(self.spans),
            name=name,
            layer=layer,
            start=0.0,
            parent=self._stack[-1] if self._stack else None,
            op_id=op_id,
        )
        if group is not None:
            sp.counts["job_group"] = group
            self.spark.sparkContext.setJobGroup(group, name, False)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = sp.end
            self._stack.pop()
            if group is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    # -- counts read from the JVM, after the timed region -------------

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) launched under one job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue
                stages += 1
                tasks += stage.numTasks
        return jobs, stages, tasks

    def attach_job_counts(self) -> None:
        for sp in self.spans:
            group = sp.counts.get("job_group")
            if group is not None:
                jobs, stages, tasks = self.job_counts(group)
                sp.counts.update(jobs=jobs, stages=stages, tasks=tasks)

    # -- self time ----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = 0.0
            cursor = sp.start
            for ch in sorted(children.get(sp.span_id, []), key=lambda s: s.start):
                lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        origin = min((sp.start for sp in self.spans), default=0.0)
        spans = []
        for sp in self.spans:
            row = asdict(sp)
            row["start"] -= origin
            row["end"] -= origin
            spans.append(row)
        with open(path, "w") as fh:
            json.dump({**extra, "self_s": self.self_times(), "spans": spans}, fh)


class JvmProbe:
    """GC time and heap figures from the JVM's management beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().toString()) == "Heap memory"
        ]

    def gc_s(self) -> float:
        return sum(max(int(gc.getCollectionTime()), 0) for gc in self._gcs) / 1000.0

    def reset_peaks(self) -> None:
        for pool in self._heap_pools:
            pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools) / 2**20

    def retained_mb(self) -> float:
        """Heap still live after a full collection at the end of the run:
        what the program keeps (caches, plan memos, artifacts, and Spark's
        record of the jobs it ran). Taken after the timed region, since a
        full collection before it slows the operations that follow. Python
        is collected first, so the JVM objects py4j pins for dead Python
        handles are released before the JVM collects."""
        gc.collect()
        # a second pass frees what the first one only finalized
        for _ in range(2):
            self._memory.gc()
        return int(self._memory.getHeapMemoryUsage().getUsed()) / 2**20
