"""Data layout: Z-order (Morton) clustering for multi-column file
skipping.

Parquet scans prune whole files/row-groups from footer min/max stats
(Spark pushes comparison filters down as the scan's ``PushedFilters``)
— but stats only help if the layout makes them tight. Sorting by one
column gives perfect pruning on that column and none on any other; at
100 TB the second-most-selective predicate is usually the expensive one.
Z-ordering interleaves the bits of per-column quantile-bucket ranks so
rows close in ANY clustered column land in the same files: every
clustered column's per-file min/max span shrinks to roughly
``files^(-1/n_cols)`` of its domain, and a point/range predicate on any
of them skips most files.

The pieces, all pure JVM codegen (no UDFs, no driver loop over data):

- ``quantile_boundaries``: per-column bucket edges via
  ``approxQuantile`` — one bounded driver-side action per layout job
  (same posture as IVF's sample-trained quantizer, similarity.py), NOT
  per query. Quantile (not min/max-uniform) buckets keep rank space
  dense under skew.
- ``zorder_key``: bucket each column with a binary-search expression
  over the boundary array literal, then interleave bucket bits into one
  long. width_bucket-over-literal-array + shift/or chain — whole-stage
  codegen.
- ``write_zordered``: range-partition on the key (contiguous z-ranges
  per output file — one range exchange, the same shuffle a global sort
  would pay), sort within partitions, drop the key, write parquet.

Verification (tests/test_layout.py) reads each output file's min/max
back and asserts the skipping property quantitatively against a
single-column-sorted layout of the same data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantile_boundaries(
    df: DataFrame, cols: Sequence[str], n_buckets: int, rel_err: float = 0.01
) -> dict[str, list[float]]:
    """Interior quantile edges (n_buckets - 1 per column). One
    approxQuantile pass (Greenwald-Khanna sketch, distributed partials,
    bounded driver result: (n_buckets-1) doubles per column)."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = df.stat.approxQuantile(list(cols), probs, rel_err)
    return dict(zip(cols, all_bounds))


def _bucket(col: Column, edges: list[float]) -> Column:
    """Bucket index in [0, len(edges)]: count of edges <= value, as a
    fold over an array literal — codegen-friendly binary of the
    width_bucket idea that works for arbitrary (quantile) edges."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return F.aggregate(
        F.filter(arr, lambda e: e <= col.cast("double")),
        F.lit(0).cast("int"),
        lambda acc, _: acc + 1,
    )


def zorder_key(
    cols: Sequence[str], boundaries: dict[str, list[float]], bits: int
) -> Column:
    """Morton key: interleave ``bits`` bits of each column's bucket rank.
    Bucket counts must be 2**bits (boundaries of length 2**bits - 1)."""
    n = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        edges = boundaries[c]
        if len(edges) != (1 << bits) - 1:
            raise ValueError(
                f"{c}: need {(1 << bits) - 1} boundaries for {bits} bits, "
                f"got {len(edges)}"
            )
        b = _bucket(F.col(c), edges).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * n + i)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 4,
    boundaries: dict[str, list[float]] | None = None,
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols`` into ``n_files``
    Morton-ALIGNED output files.

    Files are cut at aligned Morton-block boundaries (``zkey >> shift``),
    not at sampled range boundaries: a range partitioner on the raw key
    (what a global sort would give) lets a file straddle two spatial
    blocks, inflating its min/max box to the union — measured on the
    fixtures, that doubles the files a slab predicate has to touch. The
    block id becomes a hive partition directory, so block pruning is
    EXACT directory pruning (better than stats), and each block's rows
    are hash-routed to one task, so each directory holds one file with
    its own tight footer stats. Within a file, rows sort by the full
    z-key for row-group-level locality. ``n_files`` must be a power of
    two ≤ 2**(bits·n_cols)."""
    n_blocks_bits = n_files.bit_length() - 1
    if n_files != 1 << n_blocks_bits or n_files > 1 << (bits * len(cols)):
        raise ValueError(
            f"n_files must be a power of two <= 2**{bits * len(cols)}, got {n_files}"
        )
    shift = bits * len(cols) - n_blocks_bits
    bnd = boundaries or quantile_boundaries(df, cols, 1 << bits)
    keyed = df.withColumn("__zkey", zorder_key(cols, bnd, bits)).withColumn(
        "__zblock", F.shiftright(F.col("__zkey"), shift)
    )
    (
        keyed.repartition(n_files, "__zblock")
        .sortWithinPartitions("__zblock", "__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .partitionBy("__zblock")
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction — the lakehouse maintenance pass every
    streaming/CDC landing zone needs: a directory of many small parquet
    files is rewritten as ceil(total_bytes / target) files of roughly
    target size. File count is computed from the source's ON-DISK
    footprint (a driver-side metadata listing, no data read), so the
    operator needs no sampling pass; compression ratio carries over
    because the data is the same.

    ``sort_within_by`` optionally sorts rows inside each output file
    (sortWithinPartitions — NO global sort, no extra exchange beyond
    the repartition) so min/max footer stats tighten for later pruning
    — the cheap cousin of a full z-order pass.

    Scale: ONE round-robin repartition of the data (the unavoidable
    cost of changing file boundaries); listing is metadata-only. At
    100 TB this is the nightly job that turns a million 2 MB stream
    commits into 8 GB scan-friendly files. Returns {files_before,
    files_after, bytes_total} for the maintenance log."""
    import math  # noqa: PLC0415
    import os  # noqa: PLC0415

    src = spark.read.parquet(src_path)
    sizes = []
    for f in src.inputFiles():
        p = f.removeprefix("file:")
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            sizes.append(0)
    total = sum(sizes)
    n_out = max(1, math.ceil(total / target_file_bytes))
    out = src.repartition(n_out)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst_path)
    return {
        "files_before": len(sizes),
        "files_after": n_out,
        "bytes_total": total,
    }


# ------------------------------------------------ bucketed fact layout ---


# (table_name, base_dir) pairs whose catalog registration has been
# location-verified this process — makes the DESC FORMATTED check a
# one-time cost instead of a per-query-construction one
_VERIFIED_TABLES: set[tuple[str, str]] = set()


def bucket_facts(
    spark,
    sf_dir: str,
    specs: dict[str, str | tuple[str, ...]] | None = None,
    n_buckets: int = 64,
    base_dir: str | None = None,
) -> dict[str, str]:
    """Persist the big fact tables as hash-BUCKETED saved tables keyed
    on their join key, and return ``{table: catalog_table_name}``.

    This is the Spark port of the reference's only physical-design
    artifact (01_staging_layer.sql:13-14 ``CREATE INDEX`` on the join
    keys): two tables bucketed by the same key with the same bucket
    count zip bucket-for-bucket in a join — no Exchange on EITHER fact
    side, the shuffle that dominates the fact-heavy TPC-H rows
    (q3/q5/q9/q10) at sf100. On a 1000-executor cluster this is the
    layout the ingest job writes ONCE so every downstream join/groupBy
    on the key is shuffle-free; ``SORTED BY`` with one file per bucket
    additionally lets SortMergeJoin skip both sorts.

    Mechanics:
    - rows are ``repartition(n, key)``-ed before ``bucketBy(n, key)``:
      repartition and bucketBy share Murmur3(key) % n, so each task
      holds exactly one bucket and writes exactly ONE file — the
      one-file-per-bucket invariant the sorted-scan optimization needs.
    - the layout is a PERSISTED artifact (like a database index), not a
      temp: it lives under ``base_dir`` with a ``_GRAFT_COMPLETE``
      marker recording the source fingerprint. A new process
      re-registers the existing files as an external bucketed table
      (metadata-only, no rewrite); a fixture rewrite changes the
      fingerprint, which renames the target and eagerly deletes the
      superseded layout (bounded disk, no stale serving).
    """
    import ast  # noqa: PLC0415
    import hashlib  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import time  # noqa: PLC0415

    from multi_report_etl_pipeline_spark.io import (  # noqa: PLC0415
        read_table,
        table_fingerprint,
    )

    specs = specs or {"lineitem": "l_orderkey", "orders": "o_orderkey"}
    # report SORTED BY from these scans: Spark gates bucketed-scan
    # ordering behind this legacy conf (the generic one-file-per-bucket
    # check was dropped in 3.1) — our writer ENFORCES one file per
    # bucket via the aligned repartition below, so the ordering is
    # sound, and without it every merge-join consumer re-sorts the
    # whole fact (measured: a 600M-row 64-way re-sort OOMed q9's
    # composite arm at sf100). The conf is set at SESSION CONSTRUCTION
    # (session.py get_spark) so flat and bucketed registry rows always
    # run under the same planner config; the set here only covers
    # sessions built outside get_spark (e.g. the driver's own harness
    # session) where the safety property matters more than that
    # symmetry (ADVICE round 9).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    base_dir = base_dir or os.path.join(
        tempfile.gettempdir(), "graft_bucketed_facts"
    )
    os.makedirs(base_dir, exist_ok=True)

    names: dict[str, str] = {}
    for table, key in specs.items():
        cols = [key] if isinstance(key, str) else list(key)
        fp = table_fingerprint(os.path.join(sf_dir, table + ".parquet"))
        h = hashlib.md5(
            repr((sf_dir, table, tuple(cols), n_buckets, fp)).encode()
        ).hexdigest()[:10]
        # the key participates in the prefix so layouts on DIFFERENT
        # keys coexist (e.g. lineitem by orderkey AND by partkey+suppkey
        # — per-query layout choice, the multi-index analog); only a
        # superseded fingerprint of the SAME (table, key) is deleted
        kslug = "_".join(c.replace("l_", "").replace("o_", "") for c in cols)
        prefix = f"graft_b{n_buckets}_{table}_{kslug}_"
        name = prefix + h
        names[table] = name
        path = os.path.join(base_dir, name)
        if spark.catalog.tableExists(name):
            if (name, base_dir) in _VERIFIED_TABLES:
                continue
            # the name hash does NOT include base_dir, so a catalog
            # entry can point at ANOTHER base_dir's copy of this layout
            # (session-scoped catalogs outlive per-caller base dirs —
            # found via the round-10 cleanup regression test). Serve it
            # only if it lives where THIS caller asked; else drop the
            # stale registration and build here.
            loc = [
                r[1]
                for r in spark.sql(f"DESC FORMATTED {name}").collect()
                if r[0] == "Location"
            ]
            want = "file:" + os.path.abspath(path)
            if loc and loc[0].rstrip("/") == want.rstrip("/"):
                _VERIFIED_TABLES.add((name, base_dir))
                continue
            spark.sql(f"DROP TABLE {name}")
        # eager cleanup of superseded fingerprints for this (table, n).
        # sf_dir is in the md5 but NOT the prefix, so the prefix alone
        # matches OTHER datasets' layouts of the same (table, key) — a
        # pytest build at sf0.01 must not delete the persisted sf100
        # layout (ADVICE round 9; the r9 in-round incident only scoped
        # per key). Only delete a candidate whose completion marker
        # records THIS sf_dir (superseded fingerprint of this dataset)
        # or that has no marker at all (crashed/incomplete build);
        # markers from other datasets — or the legacy pre-r10 format
        # that didn't record sf_dir — are left alone.
        for d in os.listdir(base_dir):
            if not (d.startswith(prefix) and d != name):
                continue
            cand_marker = os.path.join(base_dir, d, "_GRAFT_COMPLETE")
            try:
                with open(cand_marker) as mf:
                    rec = ast.literal_eval(mf.read())
                owned = (
                    isinstance(rec, tuple)
                    and len(rec) == 2
                    and rec[0] == sf_dir
                )
            except (OSError, ValueError, SyntaxError):
                # no marker: crashed-build debris — but ONLY if old
                # enough that it cannot be a concurrent in-progress
                # build from another process (2h >> any build)
                try:
                    age = time.time() - os.path.getmtime(
                        os.path.join(base_dir, d)
                    )
                except OSError:
                    age = 0.0
                owned = not os.path.exists(cand_marker) and age > 7200
            if owned:
                shutil.rmtree(os.path.join(base_dir, d), ignore_errors=True)
        marker = os.path.join(path, "_GRAFT_COMPLETE")
        src = read_table(spark, sf_dir, table)
        key_sql = ", ".join(cols)
        if os.path.exists(marker):
            # files already on disk from a previous process: register
            # the external bucketed table (metadata-only)
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet "
                f"CLUSTERED BY ({key_sql}) SORTED BY ({key_sql}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
            )
        else:
            (
                src.repartition(n_buckets, *[F.col(c) for c in cols])
                .write.mode("overwrite")
                .bucketBy(n_buckets, *cols)
                .sortBy(*cols)
                .option("path", path)
                .saveAsTable(name)
            )
            # marker records (sf_dir, fingerprint): the sf_dir makes
            # superseded-layout cleanup dataset-scoped (see above)
            with open(marker, "w") as f:
                f.write(repr((sf_dir, fp)))
        _VERIFIED_TABLES.add((name, base_dir))
    return names
