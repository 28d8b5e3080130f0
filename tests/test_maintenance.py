"""Layout maintenance: append extends the manifest incrementally,
compaction shrinks the file count without losing rows or skipping
power, vacuum removes exactly the superseded files."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.sources import maintenance, skipping
from bigdataindexing_spark.tables import table


@pytest.fixture()
def layout(spark, sf_dir):
    """A standalone shipdate-clustered layout over 80% of lineitem, plus
    its manifest (the other 20% plays the arriving batch)."""
    path = tempfile.mkdtemp(prefix="bdi_maint_layout_")
    li = table(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_orderkey") % 5 != 0)
    (
        base.repartitionByRange(4, F.col("l_shipdate"))
        .write.mode("overwrite")
        .parquet(path)
    )
    files = maintenance._layout_files(path)
    manifest = [
        r.asDict()
        for r in skipping.file_stats_manifest(
            spark, files, "l_shipdate", "date"
        ).collect()
    ]
    return path, manifest, li


def _total_rows(manifest):
    return sum(m["num_rows"] for m in manifest)


def test_append_extends_manifest_incrementally(spark, sf_dir, layout):
    path, manifest, li = layout
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    n_delta = delta.count()
    before_rows = {m["file"]: m for m in manifest}

    new_manifest = maintenance.append_to_layout(
        spark, path, manifest, delta, "l_shipdate", "date", n_files=2
    )
    # old rows reused verbatim; only the new files were harvested
    assert all(
        new_manifest[i] == manifest[i] for i in range(len(manifest))
    )
    added = new_manifest[len(manifest):]
    assert 0 < len(added) <= 2
    assert all(m["file"] not in before_rows for m in added)
    assert _total_rows(new_manifest) == _total_rows(manifest) + n_delta
    # the layout now serves base+delta exactly
    assert (
        spark.read.parquet(*[m["file"] for m in new_manifest]).count()
        == li.count()
    )


def test_compact_preserves_rows_and_skipping(spark, sf_dir, layout):
    path, base_manifest, li = layout
    # the appended delta files are the small-file backlog; threshold at
    # the smallest BASE file so compaction touches exactly the deltas
    small_rows = min(m["num_rows"] for m in base_manifest)
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    manifest = maintenance.append_to_layout(
        spark, path, base_manifest, delta, "l_shipdate", "date", n_files=2
    )
    n_files_before = len(manifest)
    total_before = _total_rows(manifest)
    compacted, superseded = maintenance.compact_layout(
        spark, path, manifest, "l_shipdate", "date",
        small_rows=small_rows, target_files=1,
    )
    assert len(compacted) < n_files_before
    # the tombstone list is exactly the small files the rewrite replaced
    assert sorted(superseded) == sorted(
        m["file"] for m in manifest if m["num_rows"] < small_rows
    )
    assert _total_rows(compacted) == total_before
    # skipping still prunes on the compacted manifest
    keep = skipping.manifest_keep(compacted, "1996-01-01", "1996-03-31")
    assert 0 < len(keep) < len(compacted)
    got = (
        spark.read.parquet(*keep)
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .count()
    )
    want = li.filter(
        F.col("l_shipdate").between("1996-01-01", "1996-03-31")
    ).count()
    assert got == want

    # vacuum refuses a tombstone list that still contains live files —
    # the stale-manifest foot-gun is a hard error, not a data loss
    with pytest.raises(ValueError, match="manifest-referenced"):
        maintenance.vacuum_layout(
            path, compacted, superseded + [compacted[0]["file"]]
        )
    assert len(maintenance._layout_files(path)) == len(compacted) + len(
        superseded
    )

    # vacuum removes exactly the superseded files; the manifest's view
    # of the data is untouched
    on_disk = len(maintenance._layout_files(path))
    removed = maintenance.vacuum_layout(path, compacted, superseded)
    assert removed == on_disk - len(compacted)
    assert sorted(maintenance._layout_files(path)) == sorted(
        m["file"] for m in compacted
    )
    assert (
        spark.read.parquet(*[m["file"] for m in compacted]).count()
        == total_before
    )


def test_compact_noop_when_nothing_small(spark, sf_dir, layout):
    path, manifest, _li = layout
    out, superseded = maintenance.compact_layout(
        spark, path, manifest, "l_shipdate", "date",
        small_rows=1, target_files=1,
    )
    assert out == manifest and superseded == []


def test_append_ignores_concurrent_writer(spark, sf_dir, layout):
    """New files are derived from the commit itself, never a directory
    diff: a foreign file that appears in the layout mid-append is not
    harvested into this caller's manifest."""
    path, manifest, li = layout
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    # simulate a concurrent writer: a foreign parquet file landing in the
    # layout directory before our append commits
    foreign = os.path.join(path, "zz-foreign-writer.parquet")
    li.limit(7).coalesce(1).write.mode("overwrite").parquet(path + "_other")
    src = next(
        f for f in os.listdir(path + "_other") if f.endswith(".parquet")
    )
    os.rename(os.path.join(path + "_other", src), foreign)

    new_manifest = maintenance.append_to_layout(
        spark, path, manifest, delta, "l_shipdate", "date", n_files=2
    )
    harvested = {m["file"] for m in new_manifest} - {
        m["file"] for m in manifest
    }
    assert foreign not in harvested
    assert sum(m["num_rows"] for m in new_manifest) == sum(
        m["num_rows"] for m in manifest
    ) + delta.count()


def test_two_writers_append_concurrently(spark, sf_dir, layout):
    """Two writers appending to the SAME layout at the same time: each
    harvests exactly its own files (per-writer staging + unique commit
    tokens), so neither manifest sees the other's rows and the union of
    both appends equals the full table."""
    import threading

    path, manifest, li = layout
    d1 = li.filter((F.col("l_orderkey") % 5 == 0) & (F.col("l_orderkey") % 2 == 0))
    d2 = li.filter((F.col("l_orderkey") % 5 == 0) & (F.col("l_orderkey") % 2 == 1))
    results: dict[int, list[dict]] = {}
    errors: list[BaseException] = []

    def writer(i, delta):
        try:
            results[i] = maintenance.append_to_layout(
                spark, path, manifest, delta, "l_shipdate", "date", n_files=2
            )
        except BaseException as e:
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(1, d1))
    t2 = threading.Thread(target=writer, args=(2, d2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    base_files = {m["file"] for m in manifest}
    added1 = {m["file"] for m in results[1]} - base_files
    added2 = {m["file"] for m in results[2]} - base_files
    # no cross-harvesting: the two commits' file sets are disjoint
    assert added1 and added2 and not (added1 & added2)
    assert _total_rows(results[1]) == _total_rows(manifest) + d1.count()
    assert _total_rows(results[2]) == _total_rows(manifest) + d2.count()
    # a reconciled manifest (base + both adds) serves the whole table
    merged = manifest + [m for m in results[1] if m["file"] in added1] + [
        m for m in results[2] if m["file"] in added2
    ]
    assert (
        spark.read.parquet(*[m["file"] for m in merged]).count() == li.count()
    )


def test_sweep_orphans_age_guarded(spark, sf_dir, layout):
    """sweep_orphans deletes exactly the stale, unreferenced,
    commit-token-prefixed files — never manifest-referenced files, never
    base part files, never fresh (possibly mid-commit) files."""
    path, manifest, li = layout
    manifest = maintenance.append_to_layout(
        spark, path, manifest, li.limit(50), "l_shipdate", "date", n_files=1
    )
    # crash simulation: a commit whose files landed but whose manifest
    # adoption never happened (we discard the returned manifest)
    before = set(maintenance._layout_files(path))
    maintenance.append_to_layout(
        spark, path, manifest, li.limit(30), "l_shipdate", "date", n_files=1
    )
    orphans = set(maintenance._layout_files(path)) - before
    assert orphans

    # fresh orphans survive (the in-flight-commit guard)
    assert maintenance.sweep_orphans(path, manifest, min_age_sec=3600) == 0
    assert orphans <= set(maintenance._layout_files(path))

    # once stale, exactly the orphans go; everything referenced stays
    assert maintenance.sweep_orphans(path, manifest, min_age_sec=0.0) == len(orphans)
    left = set(maintenance._layout_files(path))
    assert left == {m["file"] for m in manifest} | (before - {m["file"] for m in manifest} - orphans)
    assert spark.read.parquet(*[m["file"] for m in manifest]).count() == _total_rows(manifest)


def test_time_travel_pinned_reader_sees_immutable_snapshot(spark, sf_dir, layout):
    """Snapshot isolation: a reader that pinned v0 before an append/compact
    must keep seeing exactly the v0 rows afterwards — concurrent
    maintenance can never change a committed version's contents."""
    path, manifest, li = layout
    v0 = maintenance.commit_manifest(path, manifest)
    snap0 = maintenance.read_layout_snapshot(
        spark, maintenance.read_manifest_as_of(path, v0)
    )
    before = snap0.count()

    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    manifest = maintenance.append_to_layout(
        spark, path, manifest, delta, "l_shipdate", "date", n_files=2
    )
    v1 = maintenance.commit_manifest(path, manifest)
    assert v1 == v0 + 1

    # the pinned reader re-plans from the SAME manifest: unchanged
    assert (
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v0)
        ).count()
        == before
    )
    assert (
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v1)
        ).count()
        == li.count()
    )
    # version log is monotonic and complete
    assert maintenance.manifest_versions(path) == [v0, v1]


def test_time_travel_vacuum_horizon_raises_not_partial(spark, sf_dir, layout):
    """Past the vacuum retention horizon a snapshot must FAIL loudly:
    reading a version whose files were reclaimed raises instead of
    silently returning the surviving subset (a partial snapshot is
    corruption, not a smaller result)."""
    path, manifest, li = layout
    small = min(m["num_rows"] for m in manifest)
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    manifest = maintenance.append_to_layout(
        spark, path, manifest, delta, "l_shipdate", "date", n_files=2
    )
    v1 = maintenance.commit_manifest(path, manifest)
    manifest2, superseded = maintenance.compact_layout(
        spark, path, manifest, "l_shipdate", "date",
        small_rows=small, target_files=1,
    )
    assert superseded
    v2 = maintenance.commit_manifest(path, manifest2)
    # v1 still readable pre-vacuum
    assert (
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v1)
        ).count()
        == li.count()
    )
    maintenance.vacuum_layout(path, manifest2, superseded)
    with pytest.raises(FileNotFoundError):
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v1)
        )
    # the current version is untouched by vacuum
    assert (
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v2)
        ).count()
        == li.count()
    )


def test_commit_manifest_put_if_absent_conflicts_never_clobbers(layout, monkeypatch):
    """Two concurrent committers can compute the same version = max+1;
    the put-if-absent link must refuse the taken number and raise a
    CONFLICT — never silently overwrite a committed manifest, and never
    auto-retry either (manifests are full snapshots, so re-committing
    the loser's stale manifest one version later would drop the
    winner's files from the log head — a lost update)."""
    path, manifest, _li = layout
    v0 = maintenance.commit_manifest(path, manifest)
    content0 = maintenance.read_manifest_as_of(path, v0)
    # simulate the race: the second committer listed the log BEFORE v0
    # landed, so its max+1 collides with v0
    stale = [v for v in maintenance.manifest_versions(path) if v < v0]
    monkeypatch.setattr(maintenance, "manifest_versions", lambda d: stale)
    with pytest.raises(maintenance.ManifestConflictError):
        maintenance.commit_manifest(path, manifest[:1])
    monkeypatch.undo()
    # the winner's committed bytes are untouched and still the log head
    assert maintenance.read_manifest_as_of(path, v0) == content0
    assert maintenance.manifest_versions(path) == [v0]
    # the loser re-validates (re-reads the log) and commits cleanly
    v1 = maintenance.commit_manifest(path, manifest[:1])
    assert v1 == v0 + 1
    # the temp file never leaks, win or lose
    log_dir = os.path.join(path, maintenance._MANIFEST_LOG_DIR)
    assert not [n for n in os.listdir(log_dir) if n.startswith(".")]


def test_time_travel_registry_query_contract(spark, sf_dir):
    """src_layout_time_travel: v0 < v1 == v2 row counts, and skipping
    (window_rows) composes with every version's own manifest."""
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
    counts equal their manifest-stats totals, and the version log itself
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
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, versions[1])
        )


def test_manifest_json_roundtrip_prunes_identically(spark, sf_dir, layout):
    """The version log serializes manifests to JSON (dates become ISO
    strings). Pruning over a log-loaded manifest must keep exactly the
    same files as over the live (date-typed) manifest — ISO strings
    order like dates, but pin it so a future stats type can't silently
    break skipping under time travel."""
    path, manifest, _li = layout
    v = maintenance.commit_manifest(path, manifest)
    loaded = maintenance.read_manifest_as_of(path, v)
    live_keep = skipping.manifest_keep(manifest, maintenance.MAINT_LO, maintenance.MAINT_HI)
    loaded_keep = skipping.manifest_keep(loaded, maintenance.MAINT_LO, maintenance.MAINT_HI)
    assert sorted(live_keep) == sorted(loaded_keep)
    assert 0 < len(live_keep) < len(manifest)  # the window actually prunes
    # row counts survive the roundtrip exactly
    assert [m["num_rows"] for m in loaded] == [m["num_rows"] for m in manifest]


def test_merge_upsert_copy_on_write_contract(spark, sf_dir):
    """src_layout_merge_upsert: the CDC merge rewrites ONLY the files
    whose min/max overlaps the merge window — every other v0 manifest
    row passes through to v1 by reference (same path, same stats) — and
    the pre-merge snapshot stays readable and unchanged (snapshot
    isolation across a destructive table change)."""
    from bigdataindexing_spark.registry import queries

    # drive the registered lifecycle (session-cached)
    queries()["src_layout_merge_upsert"](spark, sf_dir).collect()
    path = maintenance._MERGED_LAYOUT.dir(spark, sf_dir)
    v0, v1 = maintenance._MERGED_LAYOUT.meta(spark, sf_dir)
    snap = maintenance._MERGED_LAYOUT.df(spark, sf_dir)
    m0 = maintenance.read_manifest_as_of(path, v0)
    m1 = maintenance.read_manifest_as_of(path, v1)
    f0 = {m["file"] for m in m0}
    f1 = {m["file"] for m in m1}
    shared = f0 & f1
    # copy-on-write boundedness: the rewrite touched a strict subset
    assert shared, "no pass-through files — merge rewrote the whole table"
    assert f1 - f0, "merge committed no new files"
    rewritten = f0 - f1
    assert rewritten, "merge superseded no files"
    # only window-overlapping files were superseded
    keep = set(
        skipping.manifest_keep(
            m0, maintenance.MERGE_LO, maintenance.MERGE_HI
        )
    )
    assert rewritten <= keep
    # pass-through rows carried their stats verbatim
    stats0 = {m["file"]: m["num_rows"] for m in m0}
    for m in m1:
        if m["file"] in shared:
            assert m["num_rows"] == stats0[m["file"]]
    # pre-merge snapshot is still readable and serves the v0 table:
    # deletes/updates/inserts are invisible to a pinned reader
    pre = maintenance.read_layout_snapshot(
        spark, maintenance.read_manifest_as_of(path, v0)
    )
    post_rows = snap.count()
    pre_rows = pre.count()
    assert pre_rows == sum(m["num_rows"] for m in m0)
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
    stats, the two commits record different column lists in the
    manifest, and a v0-pinned reader still plans the OLD schema (the
    evolution is invisible to it)."""
    from bigdataindexing_spark.registry import queries

    queries()["src_layout_schema_evolution"](spark, sf_dir).collect()
    path = maintenance._EVOLVED_LAYOUT.dir(spark, sf_dir)
    v0, v1 = maintenance._EVOLVED_LAYOUT.meta(spark, sf_dir)
    snap = maintenance._EVOLVED_LAYOUT.df(spark, sf_dir)
    m0 = maintenance.read_manifest_as_of(path, v0)
    m1 = maintenance.read_manifest_as_of(path, v1)
    f0 = {m["file"]: m["num_rows"] for m in m0}
    f1 = {m["file"]: m["num_rows"] for m in m1}
    assert set(f0) <= set(f1)  # no base file rewritten or dropped
    for f, n in f0.items():
        assert f1[f] == n
    # the manifest records the evolution: old rows carry the base
    # column list, new rows the evolved one
    cols0 = {tuple(m["columns"]) for m in m1 if m["file"] in f0}
    cols1 = {tuple(m["columns"]) for m in m1 if m["file"] not in f0}
    assert len(cols0) == 1 and len(cols1) == 1
    (base_cols,) = cols0
    (evo_cols,) = cols1
    assert "l_priority_class" not in base_cols
    assert "l_priority_class" in evo_cols
    # v0-pinned reader sees the pre-evolution schema and row count
    pre = maintenance.read_layout_snapshot(spark, m0)
    assert "l_priority_class" not in pre.columns
    assert pre.count() == sum(f0.values())
    # the union-schema read NULL-fills exactly the pre-evolution rows
    assert (
        snap.filter(F.col("l_priority_class").isNull()).count()
        == sum(f0.values())
    )


def test_stream_cdc_apply_version_gated_exactly_once(spark, sf_dir):
    """st14: the streaming CDC apply leaves the full version chain
    (v0 pre-stream + one version per micro-batch) time-travel readable,
    and REPLAYING the whole stream (fresh checkpoint, same source) is a
    no-op — every batch finds its target version already committed and
    skips, so the table state and the log are byte-identical after the
    second drain (the Delta txnVersion idempotence contract)."""
    from bigdataindexing_spark.registry import queries
    from bigdataindexing_spark.streaming.core import run_foreach_batch
    from bigdataindexing_spark.tables import table

    result1 = sorted(
        tuple(r)
        for r in queries()["st14_stream_cdc_apply"](spark, sf_dir).collect()
    )
    path = maintenance._STREAM_MERGED_LAYOUT.dir(spark, sf_dir)
    src, versions = maintenance._STREAM_MERGED_LAYOUT.meta(spark, sf_dir)
    assert versions == [0, 1, 2, 3]
    # every intermediate version still plans (nothing vacuumed)
    counts = [
        maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, v)
        ).count()
        for v in versions
    ]
    assert len(set(counts)) > 1  # deletes/inserts actually moved rows
    manifests_before = [
        maintenance.read_manifest_as_of(path, v) for v in versions
    ]
    # full replay: fresh checkpoint re-fires batches 0..2 against the
    # same layout; the version gate must skip every one
    li = table(spark, sf_dir, "lineitem")
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_foreach_batch(stream, maintenance.cdc_apply_batch(path))
    assert maintenance.manifest_versions(path) == [0, 1, 2, 3]
    for v, before in zip(versions, manifests_before):
        assert maintenance.read_manifest_as_of(path, v) == before
    result2 = sorted(
        tuple(r)
        for r in maintenance.read_layout_snapshot(
            spark, maintenance.read_manifest_as_of(path, 3)
        )
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
    files (write-side cost is O(delta)); (b) compacting the same delta
    through the CoW merge pass yields a snapshot that is row-for-row
    identical to the merge-on-read view — the Hudi compactor contract:
    MoR and CoW are two physical strategies for ONE table semantics."""
    import os

    from bigdataindexing_spark.registry import queries

    queries()["src_layout_mor_read"](spark, sf_dir).collect()
    path = maintenance._MOR_LAYOUT.dir(spark, sf_dir)
    manifest = maintenance._MOR_LAYOUT.meta(spark, sf_dir)
    mor = maintenance._MOR_LAYOUT.df(spark, sf_dir)
    # base files untouched by the delta append: every manifest file
    # still exists and the manifest is still the committed v0
    assert maintenance.manifest_versions(path) == [0]
    for m in manifest:
        assert os.path.exists(m["file"])
    # compact: apply the SAME delta via the CoW merge pass
    li = table(spark, sf_dir, "lineitem")
    win = li.filter(
        F.col("l_shipdate").between(maintenance.MERGE_LO, maintenance.MERGE_HI)
    )
    compacted_manifest = maintenance._apply_cdc_merge(
        spark, path, manifest, win, maintenance.MERGE_LO, maintenance.MERGE_HI
    )
    v1 = maintenance.commit_manifest(path, compacted_manifest)
    compacted = maintenance.read_layout_snapshot(
        spark, maintenance.read_manifest_as_of(path, v1)
    )
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
