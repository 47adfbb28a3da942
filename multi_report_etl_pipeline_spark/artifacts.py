"""Derived artifacts of dataset snapshots: one store, one rule.

An entry is keyed by ``(kind, sf_dir)`` and holds ``(fingerprint,
value, owned dir or None)``, the fingerprint being ``io.table_fingerprint``
of each source table. ``Store.get`` serves the entry while the
fingerprint matches; otherwise it drops the entry, deleting its owned
dir, and builds again, so a rewritten dataset replaces its artifacts in
place. A build that returns None is not stored. Owned dirs sit under
``tempfile.gettempdir()`` and are deleted on supersession, by ``clear``
and at exit. ``STORE`` is the process store; values bound to one
SparkSession (``io.read_table``'s plan memo) live in ``session_store``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable, Hashable

from multi_report_etl_pipeline_spark.io import table_fingerprint


class Store:
    def __init__(self) -> None:
        self._entries: dict[tuple, tuple] = {}

    def __len__(self) -> int:
        return len(self._entries)

    def keys(self) -> list[tuple]:
        return list(self._entries)

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
        entry = self._entries.get(key)
        if entry is not None:
            if entry[0] == fp:
                return entry[1]
            self._drop(key)
        owned = tempfile.mkdtemp(prefix=scratch) if scratch else None
        try:
            value = build(owned) if owned else build()
        except BaseException:
            _remove(owned)
            raise
        if value is None:
            _remove(owned)
        else:
            self._entries[key] = (fp, value, owned)
        return value

    def clear(self, kind: Hashable = None, sf_dir: str | None = None) -> None:
        """Drop the entries matching ``kind`` and ``sf_dir`` (None matches
        any) and delete their owned dirs."""
        for key in [
            k for k in self._entries if kind in (None, k[0]) and sf_dir in (None, k[1])
        ]:
            self._drop(key)

    def _drop(self, key: tuple) -> None:
        _remove(self._entries.pop(key)[2])


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
        store = spark._graft_artifacts = Store()
    return store
