"""SparkSession factory with scale-aware defaults.

The reference (01_staging_layer.sql:13-14) relies on B-tree indexes for its
join performance; on Spark the equivalent physical-design levers are AQE
(runtime join re-planning + skew handling), broadcast joins for small
deduplicated sides, and a shuffle-partition count sized to the cluster.
Cores and driver heap default to what the host offers; the
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM`` and
``SPARK_GRAFT_LOCAL_DIR`` environment variables override them for a
deployment, and ``get_spark(extra_conf=...)`` overrides any other conf.
The same knobs are the ones a 1000-executor cluster run would set (with
bigger numbers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """16g, capped at three quarters of physical RAM so the OS, the
    JVM's off-heap and the Python workers keep the rest."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    return f"{max(1024, min(16 << 10, ram_mb * 3 // 4))}m"


def get_spark(
    app_name: str = "multi-report-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Notes on the non-default choices:

    - ``spark.sql.session.timeZone=UTC``: date/timestamp formatting must be
      deterministic and match the DuckDB oracle regardless of host TZ.
    - AQE on (+ skew join): replaces the reference's static index-based
      physical design with runtime re-planning; at 100 TB hot account_ids
      are split by the skew-join rule instead of stalling a task.
    - ``spark.sql.shuffle.partitions``: sized to cores locally; on a real
      cluster this should be ~2-3x total executor cores, and AQE's
      coalescePartitions trims empty ones after the fact.
    - Arrow enabled: every pandas_udf / mapInPandas operator (similarity,
      multimodal decode) moves batches via Arrow, not pickled rows.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle at 8x the target parallelism and let AQE
        # coalesce back down. shuffle.partitions pinned at ~cores makes
        # per-task sort/agg payloads grow LINEARLY with data — at sf100
        # q21's 600M-row join sorts ~9M rows/task and spills (the whole
        # query was spill-bound: interleaved A/B 106 -> 40 s; q18
        # 72 -> 49 s). Small shuffles coalesce to the same post-AQE
        # sizes either way, so sf0.1/sf1 are unharmed (ABBA A/Bs over
        # the 10-query bench slice: 9.81 -> 9.48 s and 23.60 -> 22.75 s
        # — BASELINE.md round-6). On a real cluster this is the same
        # recipe the AQE docs prescribe: initialPartitionNum well above
        # cores, advisory size doing the sizing.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * (shuffle_partitions or max(cpus, 8))),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark's default 10m STATIC broadcast threshold, kept on purpose:
        # raising it to 64m made Catalyst statically broadcast any dim
        # whose FILE is under the bar — at sf10 the 14 MB customer file
        # deserializes into a ~1.5M-row driver-built hash relation per
        # execution, measured as the dominant regression in the round-6
        # interleaved ledger A/B (sf10 totals 41.8 s at 10m vs 50.9 s at
        # 64m; q7 1.70 vs 6.77 s, rfm 6.94 vs 9.15; sf1 dead even 7.16
        # vs 7.07). AQE converts shuffle joins to broadcasts from ACTUAL
        # runtime sizes, which is both faster here and the only
        # behavior that stays safe when dims grow 100x.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        # Runtime bloom-filter join pruning (semi-join reduction): Spark
        # injects a bloom built from the selective side of a shuffle
        # join into the big side's scan, pruning BEFORE the shuffle. On
        # by default but dormant under a 10 GB application-side scan, so
        # mid-size runs never see the plan a 100 TB run gets; lowering
        # the application threshold to 64m aligns them. Round-6 quiet
        # interleaved A/Bs (BASELINE.md round 6): the only
        # two injecting queries both win at sf10 (q10 4.63 -> 2.77 s,
        # q21 10.08 -> 7.81 s); at sf1 and below nothing injects (post-
        # pruning scans are under the bar) and the arms are identical —
        # a free knob locally, and the cluster-default behavior made
        # observable at test scale. Creation side raised to 100m so a
        # filter may be BUILT from a mid-size filtered dim (the 4M
        # maxNumItems row cap still gates selectivity).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "64m",
        )
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100m")
        # Shuffle/spill scratch space: SPARK_GRAFT_LOCAL_DIR overrides
        # the JVM-default /tmp. On this single-box harness /tmp is the
        # root disk while the machine has 126 GB of free tmpfs — the
        # fact-shuffle queries (q3/q5/q9/q10 class) are bound by local
        # shuffle write+read, which a cluster serves from provisioned
        # NVMe per executor. Memory-backed scratch is the single-node
        # equivalent of that provisioning (and the apples-to-apples
        # setting against an all-in-memory DuckDB); measured A/B in
        # BASELINE.md round 8 before being defaulted anywhere.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
        )
        # Bucketed-scan ordering (operators/layout.bucket_facts): the
        # writer enforces one file per bucket, so reporting SORTED BY
        # from bucketed scans is sound; set at construction (not as a
        # bucket_facts side effect) so flat and bucketed registry rows
        # run under identical planner config — ADVICE round 9 flagged
        # the mid-session set as changing the plans of every query run
        # after the first bucketed one. Behavior-safe for non-bucketed plans
        # (the conf only affects bucketed table scans).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns type, so
        # read as long and convert (io.read_table) — truncation to micros
        # matches DuckDB's ns->us cast.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Scan-split sizing. Spark splits files at
        #   min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))
        # so the SCALE-ADAPTIVE lever is openCostInBytes, not a small
        # maxPartitionBytes cap: lowering openCost to 1m lets small local
        # fixtures (sf1 events, 12.3 MB single file) split to ~1m ranges
        # — a task only reads row groups whose MIDPOINT falls in its
        # range, so this recovers per-row-group parallelism — while big
        # inputs still split at bytesPerCore (sf10 lineitem 1.39 GB / 32
        # cores -> ~43m). The previous fixed 2m cap bought the same
        # small-file parallelism but forced ~700 splits on sf10 lineitem;
        # the round-6 interleaved tri-scale A/B (BASELINE.md round-6
        # entry) measured the cap pathological there:
        # B(2m cap) vs E(128m+1m openCost) totals 3.03/2.97 s at sf0.1,
        # 6.67/6.06 at sf1, 39.34/25.35 at sf10 — E wins at every scale
        # (sf10 q3 9.87 -> 2.59 s). On a real cluster these are also the
        # defaults to keep; scan task count is file-count-dominated.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # local mode runs every executor thread inside the driver JVM,
        # whose default heap (1g) OOMs once inputs pass ~sf0.5; on a real
        # cluster this knob is per-executor memory instead. Only takes
        # effect at JVM launch — set the env var before first getOrCreate.
        .config("spark.driver.memory", _driver_mem())
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
