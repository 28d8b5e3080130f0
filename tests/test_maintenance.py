"""Layout maintenance on the table log: append commits exactly the new
files, compaction shrinks the file count without losing rows or skipping
power, vacuum removes exactly the log's tombstones, and every step is a
put-if-absent Delta commit."""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.sources import maintenance
from bigdataindexing_spark.sources.delta_log import (
    _DELTA_TABLE,
    ManifestConflictError,
    commit,
    commit_files,
    log_versions,
    manifest_keep,
    read_commit,
    read_snapshot,
    replay,
    scan_files,
)
from bigdataindexing_spark.tables import table

WINDOW = {"l_shipdate": (maintenance.MAINT_LO, maintenance.MAINT_HI)}


@pytest.fixture()
def layout(spark, sf_dir):
    """A standalone shipdate-clustered layout over 80% of lineitem,
    committed as v0 (the other 20% plays the arriving batch)."""
    path = tempfile.mkdtemp(prefix="bdi_maint_layout_")
    li = table(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_orderkey") % 5 != 0)
    maintenance.create_table(
        spark, path, base.repartitionByRange(4, F.col("l_shipdate")), ["l_shipdate"]
    )
    return path, li


def _total_rows(path, version=None):
    return sum(f["numRecords"] for f in replay(path, version).files)


def _paths(path, version=None):
    return {f["path"] for f in replay(path, version).files}


def _actions(path, version, kind):
    return [a[kind] for a in read_commit(path, version) if kind in a]


def _append(spark, path, df, n_files=2):
    return maintenance.append_to_layout(spark, path, df, "l_shipdate", n_files=n_files)


def test_append_extends_manifest_incrementally(spark, sf_dir, layout):
    path, li = layout
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    n_delta = delta.count()
    before = replay(path)

    v = _append(spark, path, delta)
    assert v == before.version + 1
    after = replay(path)
    # old entries carried verbatim; only the new files were harvested
    assert all(f in after.files for f in before.files)
    added = _actions(path, v, "add")
    assert 0 < len(added) <= 2
    assert read_commit(path, v) == [{"add": a} for a in added]
    assert not {a["path"] for a in added} & {f["path"] for f in before.files}
    assert _total_rows(path) == _total_rows(path, 0) + n_delta
    # the layout now serves base+delta exactly
    assert read_snapshot(spark, path).count() == li.count()


def test_compact_preserves_rows_and_skipping(spark, sf_dir, layout):
    path, li = layout
    # the appended delta files are the small-file backlog; threshold at
    # the smallest BASE file so compaction touches exactly the deltas
    small_rows = min(f["numRecords"] for f in replay(path).files)
    v_append = _append(spark, path, li.filter(F.col("l_orderkey") % 5 == 0))
    before = replay(path)
    v = maintenance.compact_layout(
        spark, path, "l_shipdate", small_rows=small_rows, target_files=1
    )
    after = replay(path)
    assert len(after.files) < len(before.files)
    # the commit removes exactly the small files the rewrite replaced
    superseded = sorted(a["path"] for a in _actions(path, v, "remove"))
    assert superseded == sorted(
        f["path"] for f in before.files if f["numRecords"] < small_rows
    )
    assert after.tombstones == set(superseded)
    assert _total_rows(path) == _total_rows(path, v_append)
    # skipping still prunes on the compacted snapshot
    keep = manifest_keep(after.files, WINDOW)
    assert 0 < len(keep) < len(after.files)
    got = (
        scan_files(spark, path, keep, after.schema)
        .filter(F.col("l_shipdate").between(*WINDOW["l_shipdate"]))
        .count()
    )
    want = li.filter(F.col("l_shipdate").between(*WINDOW["l_shipdate"])).count()
    assert got == want

    # a superseded file a later commit restores is live again, so vacuum
    # must keep it — vacuum reads the log, never a caller's stale list
    restored = next(a for a in _actions(path, v_append, "add") if a["path"] == superseded[0])
    commit(path, v + 1, [{"add": restored}])
    on_disk = len(maintenance._layout_files(path))
    removed = maintenance.vacuum_layout(path)
    assert removed == len(superseded) - 1
    # vacuum removes exactly the tombstones; the live snapshot is untouched
    assert {os.path.basename(f) for f in maintenance._layout_files(path)} == _paths(path)
    assert len(maintenance._layout_files(path)) == on_disk - removed
    assert read_snapshot(spark, path).count() == _total_rows(path)


def test_compact_noop_when_nothing_small(spark, sf_dir, layout):
    path, _li = layout
    out = maintenance.compact_layout(
        spark, path, "l_shipdate", small_rows=1, target_files=1
    )
    assert out is None and log_versions(path) == [0]


def test_append_ignores_concurrent_writer(spark, sf_dir, layout):
    """New files are derived from the commit itself, never a directory
    diff: a foreign file that appears in the layout mid-append is not
    harvested into this caller's commit."""
    path, li = layout
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    # simulate a concurrent writer: a foreign parquet file landing in the
    # layout directory before our append commits
    foreign = "zz-foreign-writer.parquet"
    li.limit(7).coalesce(1).write.mode("overwrite").parquet(path + "_other")
    src = next(
        f for f in os.listdir(path + "_other") if f.endswith(".parquet")
    )
    os.rename(os.path.join(path + "_other", src), os.path.join(path, foreign))

    v = _append(spark, path, delta)
    assert foreign not in {a["path"] for a in _actions(path, v, "add")}
    assert foreign not in _paths(path)
    assert _total_rows(path) == _total_rows(path, 0) + delta.count()


def test_two_writers_append_concurrently(spark, sf_dir, layout):
    """Two writers appending to the SAME layout at the same time: each
    commits exactly its own files (per-writer staging + unique commit
    tokens), the loser of the version race retries its blind append at
    the next version, and the final snapshot equals the full table."""
    import threading

    path, li = layout
    d1 = li.filter((F.col("l_orderkey") % 5 == 0) & (F.col("l_orderkey") % 2 == 0))
    d2 = li.filter((F.col("l_orderkey") % 5 == 0) & (F.col("l_orderkey") % 2 == 1))
    results: dict[int, int] = {}
    errors: list[BaseException] = []

    def writer(i, delta):
        try:
            results[i] = _append(spark, path, delta)
        except BaseException as e:
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(1, d1))
    t2 = threading.Thread(target=writer, args=(2, d2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    assert sorted(results.values()) == [1, 2]
    added1 = {a["path"] for a in _actions(path, results[1], "add")}
    added2 = {a["path"] for a in _actions(path, results[2], "add")}
    # no cross-harvesting: the two commits' file sets are disjoint
    assert added1 and added2 and not (added1 & added2)
    n1 = sum(f["numRecords"] for f in replay(path).files if f["path"] in added1)
    n2 = sum(f["numRecords"] for f in replay(path).files if f["path"] in added2)
    assert (n1, n2) == (d1.count(), d2.count())
    # the log holds base + both appends: the whole table
    assert read_snapshot(spark, path).count() == li.count()


def test_sweep_orphans_age_guarded(spark, sf_dir, layout):
    """sweep_orphans deletes exactly the stale, never-committed,
    commit-token-prefixed files — never log-referenced files, never
    foreign files, never fresh (possibly mid-commit) files."""
    path, li = layout
    _append(spark, path, li.limit(50), n_files=1)
    # crash simulation: a commit whose files landed but whose log commit
    # never happened
    before = set(maintenance._layout_files(path))
    commit_files(
        path, lambda d: li.limit(30).write.mode("overwrite").parquet(d)
    )
    orphans = set(maintenance._layout_files(path)) - before
    assert orphans
    foreign = os.path.join(path, "zz-foreign.parquet")
    open(foreign, "wb").close()

    # fresh orphans survive (the in-flight-commit guard)
    assert maintenance.sweep_orphans(path, min_age_sec=3600) == 0
    assert orphans <= set(maintenance._layout_files(path))

    # once stale, exactly the orphans go; everything referenced stays
    assert maintenance.sweep_orphans(path, min_age_sec=0.0) == len(orphans)
    left = {os.path.basename(f) for f in maintenance._layout_files(path)}
    assert left == _paths(path) | {"zz-foreign.parquet"}
    assert read_snapshot(spark, path).count() == _total_rows(path)


def test_time_travel_pinned_reader_sees_immutable_snapshot(spark, sf_dir, layout):
    """Snapshot isolation: a reader that pinned v0 before an append/compact
    must keep seeing exactly the v0 rows afterwards — concurrent
    maintenance can never change a committed version's contents."""
    path, li = layout
    before = read_snapshot(spark, path, 0).count()

    v1 = _append(spark, path, li.filter(F.col("l_orderkey") % 5 == 0))
    assert v1 == 1

    # the pinned reader re-plans from the SAME version: unchanged
    assert read_snapshot(spark, path, 0).count() == before
    assert read_snapshot(spark, path, v1).count() == li.count()
    # version log is monotonic and complete
    assert log_versions(path) == [0, v1]


def test_time_travel_vacuum_horizon_raises_not_partial(spark, sf_dir, layout):
    """Past the vacuum retention horizon a snapshot must FAIL loudly:
    reading a version whose files were reclaimed raises instead of
    silently returning the surviving subset (a partial snapshot is
    corruption, not a smaller result)."""
    path, li = layout
    small = min(f["numRecords"] for f in replay(path).files)
    v1 = _append(spark, path, li.filter(F.col("l_orderkey") % 5 == 0))
    v2 = maintenance.compact_layout(
        spark, path, "l_shipdate", small_rows=small, target_files=1
    )
    assert replay(path, v2).tombstones
    # v1 still readable pre-vacuum
    assert read_snapshot(spark, path, v1).count() == li.count()
    maintenance.vacuum_layout(path)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, v1)
    # the current version is untouched by vacuum
    assert read_snapshot(spark, path, v2).count() == li.count()


def test_commit_manifest_put_if_absent_conflicts_never_clobbers(spark, sf_dir, layout):
    """Two concurrent committers can target the same version; the
    put-if-absent link must refuse the taken number and raise a
    CONFLICT — never silently overwrite a committed version, and never
    auto-retry a snapshot-dependent commit either (re-committing the
    loser's actions one version later could drop or resurrect the
    winner's files — a lost update)."""
    path, _li = layout
    log_dir = os.path.join(path, "_delta_log")

    def commit_bytes(table_dir, v):
        with open(os.path.join(table_dir, "_delta_log", f"{v:020d}.json"), "rb") as f:
            return f.read()

    content0 = commit_bytes(path, 0)
    loser = [{"add": a} for a in _actions(path, 0, "add")[:1]]
    # the race: a second committer that read the log before v0 landed
    # targets v0 too
    with pytest.raises(ManifestConflictError):
        commit(path, 0, loser)
    # the winner's committed bytes are untouched and still the log head
    assert commit_bytes(path, 0) == content0
    assert log_versions(path) == [0]
    # the loser re-validates (re-reads the log) and commits cleanly
    commit(path, log_versions(path)[-1] + 1, loser)
    assert log_versions(path) == [0, 1]
    # the temp file never leaks, win or lose
    assert not [n for n in os.listdir(log_dir) if n.startswith(".")]

    # the same holds on the Delta test table: re-committing its v2 raises
    # and leaves the committed file byte-identical
    delta_dir = _DELTA_TABLE.dir(spark, sf_dir)
    v2 = commit_bytes(delta_dir, 2)
    with pytest.raises(ManifestConflictError):
        commit(delta_dir, 2, [{"add": _actions(delta_dir, 1, "add")[0]}])
    assert commit_bytes(delta_dir, 2) == v2
    assert log_versions(delta_dir) == [0, 1, 2]


def test_time_travel_registry_query_contract(spark, sf_dir):
    """src_layout_time_travel: v0 < v1 == v2 row counts, and skipping
    (window_rows) composes with every version's own stats."""
    from bigdataindexing_spark.registry import queries

    rows = {r["version"]: r for r in queries()["src_layout_time_travel"](
        spark, sf_dir
    ).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["total_rows"] < rows[1]["total_rows"]
    assert rows[1]["total_rows"] == rows[2]["total_rows"]
    assert rows[1]["window_rows"] == rows[2]["window_rows"]
    assert 0 < rows[0]["window_rows"] < rows[0]["total_rows"]


def test_vacuum_horizon_registry_query_contract(spark, sf_dir):
    """src_layout_vacuum_horizon: after the registered lifecycle's vacuum,
    v1 is unreadable (NULL scan, loud raise underneath), v0/v2 scan
    counts equal their log-stats totals, and the version log itself
    survives vacuum (total_rows served for every version)."""
    from bigdataindexing_spark.registry import queries

    rows = {r["version"]: r for r in queries()["src_layout_vacuum_horizon"](
        spark, sf_dir
    ).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1]["readable"] is False and rows[1]["scanned_rows"] is None
    for v in (0, 2):
        assert rows[v]["readable"] is True
        assert rows[v]["scanned_rows"] == rows[v]["total_rows"]
    assert rows[0]["total_rows"] < rows[1]["total_rows"]
    assert rows[1]["total_rows"] == rows[2]["total_rows"]
    # the raise is real, not just a flag: pinning v1 must fail loudly
    path = maintenance._VACUUMED_LAYOUT.dir(spark, sf_dir)
    versions = maintenance._VACUUMED_LAYOUT.meta(spark, sf_dir)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, versions[1])


def test_manifest_json_roundtrip_prunes_identically(spark, sf_dir, layout):
    """The log serializes stats to JSON (timestamps become ISO strings).
    Pruning over the log's replayed stats must keep exactly the same
    files as over the stats read straight from the Parquet footers — the
    log's schema types them back, so nothing is compared as a string."""
    path, _li = layout
    live = []
    for f in maintenance._layout_files(path):
        meta = pq.ParquetFile(f).metadata
        i = meta.schema.names.index("l_shipdate")
        st = [meta.row_group(g).column(i).statistics for g in range(meta.num_row_groups)]
        live.append({
            "path": os.path.basename(f),
            "numRecords": meta.num_rows,
            "minValues": {"l_shipdate": min(s.min for s in st)},
            "maxValues": {"l_shipdate": max(s.max for s in st)},
        })
    loaded = replay(path).files
    assert [f["minValues"] for f in loaded] == [f["minValues"] for f in live]
    live_keep = manifest_keep(live, WINDOW)
    assert sorted(live_keep) == sorted(manifest_keep(loaded, WINDOW))
    assert 0 < len(live_keep) < len(live)  # the window actually prunes
    # row counts survive the roundtrip exactly
    assert [f["numRecords"] for f in loaded] == [f["numRecords"] for f in live]


def test_merge_upsert_copy_on_write_contract(spark, sf_dir):
    """src_layout_merge_upsert: the CDC merge rewrites ONLY the files
    whose min/max overlaps the merge window — every other pre-merge file
    passes through to the merged version by reference (same path, same
    stats) — and the pre-merge snapshot stays readable and unchanged
    (snapshot isolation across a destructive table change)."""
    from bigdataindexing_spark.registry import queries

    # drive the registered lifecycle (session-cached)
    queries()["src_layout_merge_upsert"](spark, sf_dir).collect()
    path = maintenance._MERGED_LAYOUT.dir(spark, sf_dir)
    v0, v1 = maintenance._MERGED_LAYOUT.meta(spark, sf_dir)
    snap = maintenance._MERGED_LAYOUT.df(spark, sf_dir)
    m0 = replay(path, v0).files
    m1 = replay(path, v1).files
    f0 = {m["path"] for m in m0}
    f1 = {m["path"] for m in m1}
    shared = f0 & f1
    # copy-on-write boundedness: the rewrite touched a strict subset
    assert shared, "no pass-through files — merge rewrote the whole table"
    assert f1 - f0, "merge committed no new files"
    rewritten = f0 - f1
    assert rewritten, "merge superseded no files"
    # the merge commit names exactly that diff (the CDC read's two sides)
    assert {a["path"] for a in _actions(path, v1, "remove")} == rewritten
    assert {a["path"] for a in _actions(path, v1, "add")} == f1 - f0
    # only window-overlapping files were superseded
    keep = set(
        manifest_keep(m0, {"l_shipdate": (maintenance.MERGE_LO, maintenance.MERGE_HI)})
    )
    assert rewritten <= keep
    # pass-through files carried their stats verbatim
    stats0 = {m["path"]: m for m in m0}
    for m in m1:
        if m["path"] in shared:
            assert m == stats0[m["path"]]
    # pre-merge snapshot is still readable and serves the v0 table:
    # deletes/updates/inserts are invisible to a pinned reader
    pre = read_snapshot(spark, path, v0)
    post_rows = snap.count()
    pre_rows = pre.count()
    assert pre_rows == sum(m["numRecords"] for m in m0)
    # net row delta = inserts - deletes (updates are row-preserving)
    li = table(spark, sf_dir, "lineitem")
    win = li.filter(
        F.col("l_shipdate").between(maintenance.MERGE_LO, maintenance.MERGE_HI)
    )
    n_del = win.filter(F.col("l_orderkey") % 7 == 1).count()
    n_ins = win.filter(F.col("l_orderkey") % 7 == 2).count()
    assert post_rows == pre_rows - n_del + n_ins


def test_schema_evolution_is_metadata_only(spark, sf_dir):
    """src_layout_schema_evolution: adding a column costs ZERO data
    rewrites — every v0 file passes into v1 by reference with identical
    stats, v1 commits the evolved schema as a new metaData action (and
    only the new files carry the column), and a v0-pinned reader still
    plans the OLD schema (the evolution is invisible to it)."""
    from bigdataindexing_spark.registry import queries

    queries()["src_layout_schema_evolution"](spark, sf_dir).collect()
    path = maintenance._EVOLVED_LAYOUT.dir(spark, sf_dir)
    v0, v1 = maintenance._EVOLVED_LAYOUT.meta(spark, sf_dir)
    snap = maintenance._EVOLVED_LAYOUT.df(spark, sf_dir)
    s0, s1 = replay(path, v0), replay(path, v1)
    f0 = {m["path"]: m["numRecords"] for m in s0.files}
    f1 = {m["path"]: m["numRecords"] for m in s1.files}
    assert set(f0) <= set(f1)  # no base file rewritten or dropped
    for f, n in f0.items():
        assert f1[f] == n
    assert not _actions(path, v1, "remove")
    # the log records the evolution: v1's metaData adds the column, and
    # only the files v1 added carry it
    assert "l_priority_class" not in s0.schema.fieldNames()
    assert "l_priority_class" in s1.schema.fieldNames()
    assert len(_actions(path, v1, "metaData")) == 1
    for f in f1:
        cols = pq.read_schema(os.path.join(path, f)).names
        assert ("l_priority_class" in cols) == (f not in f0)
    # v0-pinned reader sees the pre-evolution schema and row count
    pre = read_snapshot(spark, path, v0)
    assert "l_priority_class" not in pre.columns
    assert pre.count() == sum(f0.values())
    # the v1 read NULL-fills exactly the pre-evolution rows
    assert (
        snap.filter(F.col("l_priority_class").isNull()).count()
        == sum(f0.values())
    )


def test_stream_cdc_apply_version_gated_exactly_once(spark, sf_dir, tmp_path):
    """st14: the streaming CDC apply leaves the full version chain
    (the pre-stream version + one version per micro-batch, each with its
    txn action) time-travel readable, and REPLAYING the whole stream
    (fresh checkpoint, same source) is a no-op — every batch finds its
    target version already committed and skips, so the table state and
    the log are byte-identical after the second drain (the Delta txn
    idempotence contract, through the gate st18 shares)."""
    from bigdataindexing_spark.registry import queries
    from bigdataindexing_spark.streaming.core import replay_stream, run_foreach_batch

    result1 = sorted(
        tuple(r)
        for r in queries()["st14_stream_cdc_apply"](spark, sf_dir).collect()
    )
    path = maintenance._STREAM_MERGED_LAYOUT.dir(spark, sf_dir)
    src, versions = maintenance._STREAM_MERGED_LAYOUT.meta(spark, sf_dir)
    base = versions[0]
    assert versions == [base, base + 1, base + 2, base + 3] == log_versions(path)[base:]
    for v in versions[1:]:
        (txn,) = _actions(path, v, "txn")
        assert txn == {"appId": maintenance.ST14_APP_ID, "version": v - base - 1}
    # every intermediate version still plans (nothing vacuumed)
    counts = [read_snapshot(spark, path, v).count() for v in versions]
    assert len(set(counts)) > 1  # deletes/inserts actually moved rows
    commits_before = [read_commit(path, v) for v in versions]
    # full replay: fresh checkpoint re-fires batches 0..2 (the same three
    # arrivals) against the same layout; the version gate must skip every one
    stream = replay_stream(
        [spark.read.parquet(os.path.join(src, f"file_{i}.parquet")) for i in range(3)],
        str(tmp_path / "src"),
    )
    run_foreach_batch(
        stream, maintenance.cdc_apply_batch(path, base), str(tmp_path / "ckpt")
    )
    assert log_versions(path)[base:] == versions
    for v, before in zip(versions, commits_before):
        assert read_commit(path, v) == before
    result2 = sorted(
        tuple(r)
        for r in read_snapshot(spark, path, versions[-1])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .collect()
    )
    assert result2 == result1


def test_mor_read_equals_compacted_cow(spark, sf_dir):
    """src_layout_mor_read: (a) the delta-log append touched ZERO base
    files and made no commit (write-side cost is O(delta)); (b)
    compacting the same delta through the CoW merge pass yields a
    snapshot that is row-for-row identical to the merge-on-read view —
    the Hudi compactor contract: MoR and CoW are two physical strategies
    for ONE table semantics."""
    from bigdataindexing_spark.registry import queries

    queries()["src_layout_mor_read"](spark, sf_dir).collect()
    path = maintenance._MOR_LAYOUT.dir(spark, sf_dir)
    version = maintenance._MOR_LAYOUT.meta(spark, sf_dir)
    mor = maintenance._MOR_LAYOUT.df(spark, sf_dir)
    # base files untouched by the delta append: every live file still
    # exists and the base version is still the log head
    assert log_versions(path)[-1] == version
    for f in _paths(path):
        assert os.path.exists(os.path.join(path, f))
    # compact: apply the SAME delta via the CoW merge pass
    li = table(spark, sf_dir, "lineitem")
    win = li.filter(
        F.col("l_shipdate").between(maintenance.MERGE_LO, maintenance.MERGE_HI)
    )
    commit(
        path,
        version + 1,
        maintenance._apply_cdc_merge(
            spark, path, version, win, maintenance.MERGE_LO, maintenance.MERGE_HI
        ),
    )
    compacted = read_snapshot(spark, path, version + 1)
    # row-for-row multiset equality, both directions
    assert mor.exceptAll(compacted).count() == 0
    assert compacted.exceptAll(mor).count() == 0


def test_signed_diff_matches_except_all_with_nulls(spark):
    """The CDC hash-cancel must equal EXCEPT ALL in both directions on
    NULL-bearing rows: an update that moves a NULL between columns, or
    turns a value into NULL, is a change, not a cancel (Spark's xxhash64
    skips NULL inputs, so the row hash alone cannot see either)."""
    schema = "a INT, b INT, q DOUBLE"
    old = spark.createDataFrame(
        [(1, None, 1.0), (None, 2, 2.0), (3, 3, 3.0), (4, 4, 4.0),
         (4, 4, 4.0), (5, 5, 5.0), (None, None, 6.0)],
        schema,
    )
    new = spark.createDataFrame(
        [(None, 1, 1.0), (2, None, 2.0), (3, None, 3.0), (4, 4, 4.0),
         (5, 5, 5.0), (5, 5, 5.0), (None, None, 6.0)],
        schema,
    )
    diff = maintenance.signed_diff(old, new, "q").collect()

    def payloads(sign: int) -> list[float]:
        """q of every row on one side, repeated by its multiplicity."""
        return sorted(
            r["q"] for r in diff if r["d"] * sign > 0 for _ in range(abs(r["d"]))
        )

    deletes = sorted(r["q"] for r in old.exceptAll(new).collect())
    inserts = sorted(r["q"] for r in new.exceptAll(old).collect())
    assert len(deletes) == len(inserts) == 4
    assert payloads(1) == deletes
    assert payloads(-1) == inserts
