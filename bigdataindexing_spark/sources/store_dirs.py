"""Session-materialized stores: one class for every build-once/serve-many
relation the engine keeps (dedup signature stores, postings and search
indexes, sketches, rollups, clustered / Z-ordered / partitioned layouts,
Delta tables and the maintained layouts on the Delta log).

A store is a :class:`SessionParquetStore` instance. Its **build** contract
is ``build(spark, sf_dir, path) -> metadata``: write the store into the
given fresh directory and optionally return driver-side metadata (the
committed versions, PQ codebooks). Inputs the build
keeps for later (the arrivals a stream replays) go under ``path`` too, so
they are reclaimed with the store. Its **open**
contract is ``open(spark, path, metadata) -> handle``: the session-bound
handle serves read, by default ``spark.read.parquet(path)``. Named
sub-tables (``<path>/<name>``) are read on first use through
``df(spark, sf_dir, name)``.

The class owns every session hazard once: builds are keyed by
``(applicationId, sf_dir)``; every tier re-checks that the directory
still exists, so an externally reclaimed store rebuilds instead of
erroring; handles are bound to the session that opened them, so a sibling
``spark.newSession()`` re-opens them; temp views are re-registered in a
catalog that lacks them.

Adding a store means constructing an instance: it registers itself in
:data:`STORES` under its ``kind`` (a duplicate kind raises), and the
store tests sweep that registry.

Directories come from :func:`session_store_dir`: a ``mkdtemp`` removed at
process exit, so the lineitem-sized copies a session materializes are
reclaimed instead of orphaned in /tmp. Distinct sessions keep distinct
directories — a deterministic shared path would race between concurrent
sessions. On a cluster these would be object-store prefixes owned by a
catalog with a TTL policy; atexit is the local-mode analogue.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_CREATED: list[str] = []


def _cleanup() -> None:
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def session_store_dir(kind: str) -> str:
    """A fresh store directory, removed automatically at process exit."""
    path = tempfile.mkdtemp(prefix=f"bdi_store_{kind}_")
    _CREATED.append(path)
    return path


def write_store(df, path: str, *sort_cols: str) -> None:
    """The standard store write. With ``sort_cols`` the store is one file
    sorted by them (stores are bounded — signature tables, postings,
    sketch counters — so a single sorted file maximizes footer-stats
    pruning for probes); without, the DataFrame's own partitioning."""
    if sort_cols:
        df = df.repartition(1).sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(path)


# kind -> store, filled by SessionParquetStore.__init__
STORES: dict[str, "SessionParquetStore"] = {}


def _read_parquet(spark, path: str, _meta):
    return spark.read.parquet(path)


class SessionParquetStore:
    """A build-once/serve-many store with three access tiers — ``dir``
    (the built directory; ``meta`` is the build's return value), ``df``
    (the session-bound handle, or a named sub-table) and ``view`` (a temp
    view over the handle, for single-SQL serves)."""

    def __init__(self, kind: str, build, open=_read_parquet):
        if kind in STORES:
            raise ValueError(f"duplicate store kind {kind!r}")
        self.kind = kind
        self._build = build
        self._open = open
        # (applicationId, sf_dir) -> (path, metadata)
        self._built: dict[tuple[str, str], tuple[str, object]] = {}
        # (applicationId, sf_dir) -> (session, path, {sub-table: handle})
        self._handles: dict[tuple[str, str], tuple[object, str, dict]] = {}
        STORES[kind] = self

    def _entry(self, spark, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        built = self._built.get(key)
        if built is None or not os.path.isdir(built[0]):
            path = session_store_dir(self.kind)
            built = (path, self._build(spark, sf_dir, path))
            self._built[key] = built
        return key, built

    def dir(self, spark, sf_dir: str) -> str:
        return self._entry(spark, sf_dir)[1][0]

    def meta(self, spark, sf_dir: str):
        return self._entry(spark, sf_dir)[1][1]

    def df(self, spark, sf_dir: str, table: str | None = None):
        key, (path, meta) = self._entry(spark, sf_dir)
        cached = self._handles.get(key)
        if cached is None or cached[0] is not spark or cached[1] != path:
            cached = (spark, path, {})
            self._handles[key] = cached
        handles = cached[2]
        if table not in handles:
            handles[table] = (
                self._open(spark, path, meta)
                if table is None
                else spark.read.parquet(os.path.join(path, table))
            )
        return handles[table]

    def view(self, spark, sf_dir: str) -> str:
        key, (path, _meta) = self._entry(spark, sf_dir)
        # the name follows the built directory, so a rebuilt store never
        # resolves to a view over the reclaimed one
        name = f"bdi_{self.kind}_{abs(hash((key, path))) % 10**8}"
        if not spark.catalog.tableExists(name):
            self.df(spark, sf_dir).createOrReplaceTempView(name)
        return name
