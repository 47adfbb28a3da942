"""Seeded input generator for the benchmark.

Builds sf0.1-shaped snapshots of the ten tables the query registry reads,
with the same schemas and value domains as the synthetic fixtures the
test-suite uses (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``). Everything derives from ``numpy.random.default_rng`` keyed
on the seed, and parquet is written with fixed writer options, so the same
seed gives byte-identical files and a different seed gives different ones.

A ``reports_daily`` drop is a fresh ``orders`` + ``lineitem`` pair keyed
on ``(seed, drop)``, with its order keys remapped by the per-replica offset
``scripts/make_scale.py`` uses, so every drop is a new file with a disjoint
key range that still joins to the base dimension tables. The other eight
tables are hard-linked from the base snapshot, so every snapshot directory
holds every table the registry reads.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Row counts of the sf0.1 fixtures.
SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# Per-replica order-key offset of scripts/make_scale.py: drop i owns the
# key range [i * ORDERKEY_OFFSET, i * ORDERKEY_OFFSET + n_orders).
ORDERKEY_OFFSET = 1_000_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) for k in key])


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # One row group, fixed codec and no pandas metadata: the file bytes
    # depend on the table contents only.
    pq.write_table(
        table,
        path,
        row_group_size=max(table.num_rows, 1),
        compression="snappy",
        store_schema=False,
    )


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def dimension_tables(seed: int) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = SF01["customer"], SF01["supplier"], SF01["part"]
    rng = _rng(seed, 1)
    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), type=pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust, type=pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
                "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(supp, type=pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
                "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part, type=pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
                "p_retailprice": _money(900.0 + (part % 1000) * 0.1),
            }
        ),
    }


def fact_tables(
    seed: int, drop: int, n_orders: int, n_lineitems: int
) -> dict[str, pa.Table]:
    """orders + lineitem of one drop, keys offset by the drop index."""
    rng = _rng(seed, 2, drop)
    base = drop * ORDERKEY_OFFSET
    okeys = base + np.arange(n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(okeys, type=pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, SF01["customer"], n_orders), type=pa.int64()
            ),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_orders)),
            "o_orderdate": _ts(
                _EPOCH_1995 + rng.integers(0, 2405, n_orders) * _DAY_US
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(
                base + rng.integers(0, n_orders, n_lineitems), type=pa.int64()
            ),
            "l_partkey": pa.array(
                rng.integers(0, SF01["part"], n_lineitems), type=pa.int64()
            ),
            "l_suppkey": pa.array(
                rng.integers(0, SF01["supplier"], n_lineitems), type=pa.int64()
            ),
            "l_linenumber": pa.array(
                rng.integers(1, 8, n_lineitems), type=pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_lineitems).astype("float64"),
            "l_extendedprice": _money(rng.uniform(900.0, 105000.0, n_lineitems)),
            "l_discount": rng.integers(0, 11, n_lineitems) / 100.0,
            "l_tax": rng.integers(0, 9, n_lineitems) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_lineitems),
            "l_linestatus": _pick(rng, ("F", "O"), n_lineitems),
            "l_shipdate": _ts(
                _EPOCH_1995 + (1 + rng.integers(0, 2499, n_lineitems)) * _DAY_US
            ),
        }
    )
    return {"orders": orders, "lineitem": lineitem}


def events_table(seed: int, n: int = SF01["events"]) -> pa.Table:
    rng = _rng(seed, 3)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), type=pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1500, n), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _money(rng.exponential(50.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int = SF01["documents"]) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, with planted
    near-duplicates (another document's text plus a trailing ``dup``
    token) and a few exact duplicates, like the fixtures."""
    rng = _rng(seed, 4)
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(VOCAB[w] for w in words[end - k : end])
        for end, k in zip(ends, lengths)
    ]
    # the planted shares of the sf0.1 fixture, at any size
    n_near = N_NEAR_DUPS * n // SF01["documents"]
    n_exact = max(N_EXACT_DUPS * n // SF01["documents"], 1)
    copies = rng.choice(n, n_near + n_exact, replace=False)
    sources = rng.integers(0, n, len(copies))
    for i, (dst, src) in enumerate(zip(copies, sources)):
        if dst == src:
            continue
        texts[dst] = texts[src] + (" dup" if i < n_near else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int = SF01["embeddings"]) -> pa.Table:
    rng = _rng(seed, 5)
    vecs = rng.standard_normal((n, EMB_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), type=pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
        }
    )


def _n(table: str, scale: float) -> int:
    return max(int(SF01[table] * scale), 1)


def write_snapshot(seed: int, out_dir: str, scale: float = 1.0) -> str:
    """Snapshot of all ten tables: dimensions at sf0.1 size, the fact
    tables (drop 0) and the event/document/embedding tables at ``scale``
    times their sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        **dimension_tables(seed),
        **fact_tables(seed, 0, _n("orders", scale), _n("lineitem", scale)),
        "events": events_table(seed, _n("events", scale)),
        "documents": documents_table(seed, _n("documents", scale)),
        "embeddings": embeddings_table(seed, _n("embeddings", scale)),
    }
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_drop(
    seed: int, drop: int, base_dir: str, out_dir: str, scale: float = 1.0
) -> str:
    """One data drop: new orders + lineitem (``scale`` x sf0.1 rows) next
    to hard links of the base snapshot's other tables."""
    facts = fact_tables(seed, drop, _n("orders", scale), _n("lineitem", scale))
    return _assemble(facts, base_dir, out_dir)


def _assemble(fresh: dict[str, pa.Table], base_dir: str, out_dir: str) -> str:
    """Write ``fresh`` tables into ``out_dir`` and hard-link the rest from
    ``base_dir``, so the directory holds every table the registry reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in fresh:
            _write(fresh[name], dst)
            continue
        src = os.path.join(base_dir, f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    return out_dir
