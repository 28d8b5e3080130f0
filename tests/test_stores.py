"""Store-layer sweeps over every self-registered session store.

Every build-once/serve-many store is a ``SessionParquetStore`` instance,
registered in ``store_dirs.STORES`` when constructed. These sweeps drive
each one through the hostile conditions the class exists to absorb: a
sibling ``spark.newSession()`` (same application id, empty catalog,
different session identity) and a store directory reclaimed from under
the session.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

from bigdataindexing_spark import registry
from bigdataindexing_spark.sources.store_dirs import STORES

registry.all_specs()  # imports every module, so every store has registered

# session_store_dir() call sites that are scratch space, not stores:
# checkpoints, per-invocation outputs and replay arrivals
SCRATCH_KINDS = {
    "cc_checkpoint",
    "ckpt",
    "json_ingest",
    "stream_cms",
    "stream_index",
    "stream_scd2",
    "stream_quantile",
    "stream_adaptive_quantile",
    "st4_src",
    "st5_src",
    "st13_src",
    "st15_src",
    "st16_src",
}


def _tiers(store, spark, sf_dir) -> list:
    """Every tier the store serves: its named ``*.parquet`` sub-tables if
    it has them, else the default handle plus, for a DataFrame handle,
    the temp view over it."""
    path = store.dir(spark, sf_dir)
    subs = sorted(
        n for n in os.listdir(path)
        if n.endswith(".parquet") and os.path.isdir(os.path.join(path, n))
    )
    if subs:
        return [store.df(spark, sf_dir, n) for n in subs]
    handle = store.df(spark, sf_dir)
    if isinstance(handle, DataFrame):
        return [handle, spark.table(store.view(spark, sf_dir))]
    return [handle]


def _rows(tiers) -> list:
    """Row count per tier; handles holding several relations (per-version
    snapshots, None for a vacuumed version) count each one."""
    def count(h):
        if h is None:
            return None
        if isinstance(h, (list, tuple)):
            return [count(x) for x in h]
        return h.count()

    return [count(t) for t in tiers]


def test_store_registry_covers_every_store_dir():
    """The only literal ``session_store_dir("<name>")`` call sites left are
    scratch space: a store written by hand instead of through
    SessionParquetStore fails here instead of escaping the sweeps."""
    src = Path(__file__).resolve().parent.parent / "bigdataindexing_spark"
    names = set()
    for py in src.rglob("*.py"):
        names.update(re.findall(r'session_store_dir\("([^"]+)"\)', py.read_text()))
    assert names == SCRATCH_KINDS
    assert not SCRATCH_KINDS & set(STORES)


def _callers(tree: ast.AST, names: set) -> list:
    """The innermost enclosing function node (None at module level) of
    each call of a function or method named in ``names``."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node
        if isinstance(node, ast.Call):
            f = node.func
            if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) in names:
                found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


PACKAGE = Path(__file__).resolve().parent.parent / "bigdataindexing_spark"


def test_only_self_cleaning_helpers_make_temp_dirs():
    """The package makes temp directories in two places only, and both
    remove them: ``session_store_dir`` at process exit, and
    ``delta_log.commit_files`` (its staging directory) before it
    returns. Any other ``mkdtemp`` leaks one directory per call."""
    callers = {
        (py.relative_to(PACKAGE).as_posix(), fn.name)
        for py in PACKAGE.rglob("*.py")
        for fn in _callers(ast.parse(py.read_text()), {"mkdtemp"})
    }
    assert callers == {
        ("sources/store_dirs.py", "session_store_dir"),
        ("sources/delta_log.py", "commit_files"),
    }


def test_every_persist_is_released():
    """Every ``.persist()`` / ``.cache()`` in the package is either
    ``tables.pin`` (released by ``release_pinned``) or sits in a function
    that also calls ``unpersist``. Any other cache stays in executor
    memory for the rest of the session."""
    sites, leaks = set(), []
    for py in PACKAGE.rglob("*.py"):
        for fn in _callers(ast.parse(py.read_text()), {"persist", "cache"}):
            site = (py.relative_to(PACKAGE).as_posix(), fn.name if fn else None)
            sites.add(site[0])
            if site != ("tables.py", "pin") and not (fn and _callers(fn, {"unpersist"})):
                leaks.append(site)
    assert leaks == []
    # the walk does see the package's caches
    assert {"tables.py", "operators/dedup.py", "sources/json_ingest.py"} <= sites


def test_only_store_modules_read_application_id():
    """Per-session state is keyed by ``applicationId`` in three modules
    only: the store class, the table catalog's view registry and pinned
    views, and the bucketed layout's catalog tables. Any other reader is
    a hand-keyed session cache that the store sweeps cannot see; it
    belongs in a ``SessionParquetStore``."""
    readers = set()
    for py in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                readers.add(py.relative_to(PACKAGE).as_posix())
    assert readers == {"sources/store_dirs.py", "tables.py", "sources/layout.py"}


def test_duplicate_store_kind_raises():
    from bigdataindexing_spark.sources.store_dirs import SessionParquetStore

    with pytest.raises(ValueError, match="duplicate store kind"):
        SessionParquetStore("search_idx", lambda spark, sf_dir, path: None)


# "<kind>_view" cases read only the temp view, so view() is the first tier
# the sibling session reaches, with no df() handle opened before it: the
# shingle and LSH signature stores, which queries join by view name
VIEW_FIRST = ["lsh_sig_view", "shingle_sig_view"]


def _view_tier(store, spark, sf_dir) -> list:
    return [spark.table(store.view(spark, sf_dir))]


@pytest.mark.parametrize("kind", sorted(STORES) + VIEW_FIRST)
def test_store_survives_sibling_new_session(spark, sf_dir, kind):
    """Materialize the store on the base session, then read every tier
    from a fresh ``spark.newSession()`` (same application id, EMPTY
    catalog): same row counts — never a stale view name the new catalog
    can't resolve or a handle bound to the other session."""
    tiers = _tiers
    if kind in VIEW_FIRST:
        kind, tiers = kind.removesuffix("_view"), _view_tier
    store = STORES[kind]
    base = _rows(tiers(store, spark, sf_dir))

    sibling = spark.newSession()
    assert _rows(tiers(store, sibling, sf_dir)) == base
    # and the base session still works after the sibling touched the cache
    assert _rows(tiers(store, spark, sf_dir)) == base


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_rebuilds_reclaimed_directory(spark, sf_dir, kind):
    """Build the store and read every tier, then delete its directory (a
    tmp reaper, an operator): every tier must rebuild and serve the same
    row counts instead of failing on the vanished files."""
    store = STORES[kind]
    before = _rows(_tiers(store, spark, sf_dir))
    path = store.dir(spark, sf_dir)
    shutil.rmtree(path)

    assert _rows(_tiers(store, spark, sf_dir)) == before
    assert store.dir(spark, sf_dir) != path
