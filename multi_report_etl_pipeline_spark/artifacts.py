"""Derived artifacts of dataset snapshots: one store, one rule.

An entry is keyed by ``(kind, sf_dir)`` and holds ``(fingerprint,
value, owned dir or None)``, the fingerprint being ``io.table_fingerprint``
of each source table. ``Store.get`` serves the entry while the
fingerprint matches; otherwise it drops the entry, deleting its owned
dir, and builds again, so a rewritten dataset replaces its artifacts in
place. A build that returns None is not stored. Owned dirs sit under
``tempfile.gettempdir()`` and are deleted on supersession, by ``clear``,
on eviction and at exit. A store keeps at most ``MAX_ENTRIES`` entries
and evicts the least recently used one beyond that.

``STORE`` is the process store. Values bound to one SparkSession (scan
plans, the staging views, prepared registry queries) live in
``session_store``, whose fingerprints also hold the number of times the
process store dropped or cleared entries of their ``sf_dir``. A drop or
clear of an ``sf_dir`` in the process store drops that ``sf_dir``'s
session entries too, so no session plan outlives a dir it reads.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from collections import Counter, OrderedDict
from typing import Callable, Hashable

from multi_report_etl_pipeline_spark.io import table_fingerprint

# Entries per store. A session holds one prepared plan per registry
# query and snapshot (192 queries) plus the scan plans and staging views.
MAX_ENTRIES = 512


class Store:
    def __init__(self, parent: Store | None = None) -> None:
        self._entries: OrderedDict[tuple, tuple] = OrderedDict()
        self._parent = parent
        self._children: weakref.WeakSet[Store] = weakref.WeakSet()
        if parent is not None:
            parent._children.add(self)
        self._invalidations: Counter[str] = Counter()
        self._stats: Counter[str] = Counter()

    def __len__(self) -> int:
        return len(self._entries)

    def keys(self) -> list[tuple]:
        return list(self._entries)

    def stats(self) -> dict[str, int]:
        """Hits, misses (absent or stale), builds (stored values),
        drops (supersessions, clears and evictions) and evictions."""
        return {
            k: self._stats[k] for k in ("hits", "misses", "builds", "drops", "evictions")
        }

    def invalidations(self, sf_dir: str) -> int:
        """How often entries of ``sf_dir`` were dropped or cleared."""
        return self._invalidations[sf_dir]

    def get(
        self,
        kind: Hashable,
        sf_dir: str,
        tables: tuple[str, ...],
        build: Callable,
        scratch: str | None = None,
    ):
        """The ``(kind, sf_dir)`` artifact for the current fingerprint of
        ``tables``, built on a miss. With ``scratch`` (a name prefix) the
        build is called with a fresh owned dir to write into; the dir is
        deleted with the entry."""
        key = (kind, sf_dir)
        fp = tuple(
            table_fingerprint(os.path.join(sf_dir, t + ".parquet")) for t in tables
        )
        if self._parent is not None:
            fp += (self._parent.invalidations(sf_dir),)
        entry = self._entries.get(key)
        if entry is not None:
            if entry[0] == fp:
                self._stats["hits"] += 1
                self._entries.move_to_end(key)
                return entry[1]
            self._drop(key)
        self._stats["misses"] += 1
        owned = tempfile.mkdtemp(prefix=scratch) if scratch else None
        try:
            value = build(owned) if owned else build()
        except BaseException:
            _remove(owned)
            raise
        if value is None:
            _remove(owned)
            return None
        self._stats["builds"] += 1
        self._entries[key] = (fp, value, owned)
        while len(self._entries) > MAX_ENTRIES:
            self._stats["evictions"] += 1
            self._drop(next(iter(self._entries)))
        return value

    def clear(self, kind: Hashable = None, sf_dir: str | None = None) -> None:
        """Drop the entries matching ``kind`` and ``sf_dir`` (None matches
        any) and delete their owned dirs. A given ``sf_dir`` counts as
        cleared even when nothing matched."""
        for key in [
            k for k in self._entries if kind in (None, k[0]) and sf_dir in (None, k[1])
        ]:
            self._drop(key)
        if sf_dir is not None:
            self._invalidate(sf_dir)

    def _drop(self, key: tuple) -> None:
        self._stats["drops"] += 1
        _remove(self._entries.pop(key)[2])
        self._invalidate(key[1])

    def _invalidate(self, sf_dir: str) -> None:
        self._invalidations[sf_dir] += 1
        for child in list(self._children):
            child.clear(sf_dir=sf_dir)


def _remove(owned: str | None) -> None:
    if owned:
        shutil.rmtree(owned, ignore_errors=True)


STORE = Store()
get = STORE.get
clear = STORE.clear
atexit.register(clear)


def session_store(spark) -> Store:
    """The store carried by ``spark`` itself: its lifetime is the
    session's, and no other session object can see its entries."""
    store = getattr(spark, "_graft_artifacts", None)
    if store is None:
        store = spark._graft_artifacts = Store(parent=STORE)
    return store
