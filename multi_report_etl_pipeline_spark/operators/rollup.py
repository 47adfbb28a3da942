"""Continuous aggregate (hypertable rollup): a persisted, fingerprinted
hourly rollup artifact serving the time-series query family.

The TimescaleDB continuous-aggregate idea re-expressed Spark-first: the
(hour, event_type) aggregate that every monitoring-family query
(gap-fill/LOCF, EWMA anomaly scoring, dashboards) re-derives from the
raw stream is a DATASET-scoped artifact, not a per-query computation.
Build it once per fixture fingerprint (one scan of events), persist the
|types| x |hours|-bounded result as parquet, and serve every consumer
from the bounded artifact — the exact posture `layout.bucket_facts`
takes for join keys (persisted, fingerprinted, re-usable across
processes) applied to time-series rollups.

At 100 TB this is the design that matters more than any per-query
optimization: the raw stream is scanned ONCE per ingest window, and the
rollup is maintained INCREMENTALLY — the registered streaming twin of
this family (`streaming_windowed_counts`: watermark + windowed
aggregate in update mode) is precisely the incremental maintenance job;
this module is its batch materialization. Values are identical to the
inline aggregates by construction (the artifact stores the SAME
count + round-6 avg the inline plans emit), so the rollup-served query
rows sit under the same DuckDB oracles as their inline twins.

Build cost is not hidden: it is measured and recorded in BASELINE.md
(round 10), and the artifact is invalidated by the events table's
fingerprint, like every other entry of the artifact store.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_report_etl_pipeline_spark import artifacts
from multi_report_etl_pipeline_spark.io import read_table, table_fingerprint


def hourly_rollup(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Return the (event_type, h, cnt, av) hourly continuous aggregate
    for the events table, building the persisted artifact on first
    touch of a new fixture fingerprint.

    Columns:
    - ``h``: hour timestamp (epoch-arithmetic truncation — the
      engine's standard, value-identical to date_trunc under the
      pinned UTC session)
    - ``cnt``: row count for the (type, hour) bucket
    - ``av``: ROUND(AVG(value), 6) — stored FINAL so every consumer
      reads the identical double the inline aggregate would emit
    """
    base_dir = base_dir or os.path.join(
        tempfile.gettempdir(), "graft_hourly_rollup"
    )
    # the fingerprint names the path, so the artifact is reused across
    # processes; superseded ones are |types| x |hours| parquet files —
    # bounded debris, unlike the GB-scale bucketed layouts
    path = artifacts.get(
        ("hourly_rollup", base_dir),
        sf_dir,
        ("events",),
        lambda: _build_rollup(spark, sf_dir, base_dir),
    )
    return spark.read.parquet(path)


def _build_rollup(spark: SparkSession, sf_dir: str, base_dir: str) -> str:
    import hashlib  # noqa: PLC0415

    os.makedirs(base_dir, exist_ok=True)
    fp = table_fingerprint(os.path.join(sf_dir, "events.parquet"))
    h = hashlib.md5(repr((sf_dir, "events", fp)).encode()).hexdigest()[:10]
    path = os.path.join(base_dir, f"graft_rollup_events_hourly_{h}")
    marker = os.path.join(path, "_GRAFT_COMPLETE")
    if not os.path.exists(marker):
        ev = read_table(spark, sf_dir, "events")
        tl = F.col("ts").cast("timestamp_ltz").cast("long")
        (
            ev.groupBy(
                F.timestamp_seconds(tl - F.pmod(tl, F.lit(3600))).alias("h"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.avg("value"), 6).alias("av"),
            )
            # |types| x |hours| rows — one file reads back as one
            # split, no scheduling overhead on the bounded artifact
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        with open(marker, "w") as f:
            f.write(repr((sf_dir, fp)))
    return path
