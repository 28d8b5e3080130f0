"""Delta transaction-log format contracts (sources/delta_log.py).

The three registered queries hash-gate snapshot CONTENTS against duckdb;
these tests pin the PROTOCOL properties: commit-file naming, action
shape (protocol/metaData/add/remove with a parseable stats sidecar),
state reconstruction across versions, stats-based file pruning, and the
reader's refusal to partial-read an unknown version.
"""

from __future__ import annotations

import json
import os

import pytest

from bigdataindexing_spark.sources.delta_log import (
    DELTA_READ_HI,
    _DELTA_TABLE,
    read_snapshot,
    replay,
)


@pytest.fixture(scope="module")
def table_dir(spark, sf_dir):
    return _DELTA_TABLE.dir(spark, sf_dir)


def test_log_layout_matches_protocol(table_dir):
    log = sorted(os.listdir(os.path.join(table_dir, "_delta_log")))
    assert log == [f"{v:020d}.json" for v in (0, 1, 2)]
    # commit 0 must open with protocol + metaData, then only adds
    with open(os.path.join(table_dir, "_delta_log", log[0])) as f:
        actions = [json.loads(line) for line in f]
    assert "protocol" in actions[0]
    assert actions[0]["protocol"]["minReaderVersion"] == 1
    assert "metaData" in actions[1]
    meta = actions[1]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    # schemaString is a Spark StructType JSON document
    schema = json.loads(meta["schemaString"])
    assert schema["type"] == "struct"
    for a in actions[2:]:
        assert set(a) == {"add"}
        add = a["add"]
        assert not os.path.isabs(add["path"])
        stats = json.loads(add["stats"])
        assert stats["numRecords"] > 0
        assert stats["minValues"]["doc_id"] <= stats["maxValues"]["doc_id"]


def test_state_reconstruction_across_versions(table_dir):
    v0 = {a["path"] for a in replay(table_dir, 0).files}
    v1 = {a["path"] for a in replay(table_dir, 1).files}
    v2 = {a["path"] for a in replay(table_dir, 2).files}
    assert v0 < v1, "append must strictly grow the file set"
    # the CoW delete swaps exactly one file for its rewrite
    assert "part-b.parquet" in v1 and "part-b.parquet" not in v2
    assert "part-b2.parquet" in v2
    # latest == explicit-latest-version
    latest = {a["path"] for a in replay(table_dir).files}
    assert latest == v2


def test_reader_refuses_unknown_version(table_dir):
    with pytest.raises(ValueError):
        replay(table_dir, 99)


def test_stats_pruning_reads_fewer_files(spark, table_dir):
    all_files = replay(table_dir).files
    pruned = read_snapshot(spark, table_dir, ranges={"doc_id": (0, DELTA_READ_HI)})
    n_read = len(pruned.inputFiles())
    assert n_read < len(all_files), (n_read, len(all_files))
    # pruning is sound: no row in the dropped files matches the range
    full = read_snapshot(spark, table_dir)
    want = full.filter(f"doc_id <= {DELTA_READ_HI}").count()
    got = pruned.filter(f"doc_id <= {DELTA_READ_HI}").count()
    assert got == want


def test_store_handle_is_the_latest_snapshot(spark, sf_dir, table_dir):
    """The store's session handle reads the files the log keeps live, not
    the data directory, which still holds the removed part-b beside its
    rewrite part-b2."""
    handle = _DELTA_TABLE.df(spark, sf_dir)
    live = {os.path.join(table_dir, a["path"]) for a in replay(table_dir).files}
    assert {f.removeprefix("file://") for f in handle.inputFiles()} == live
    assert handle.count() == handle.select("doc_id").distinct().count()


def test_stream_sink_exactly_once_under_replay(spark, sf_dir, tmp_path):
    """st18's version-gated commit: drain the SAME arrival directory a
    second time with a FRESH checkpoint (the file source re-delivers
    every batch), and the log must not grow, the snapshot must not
    change, and each streamed commit must carry its txn action — the
    st14 double-drain contract on the Delta wire format."""
    from bigdataindexing_spark.sources.delta_log import (
        ST18_APP_ID,
        _STREAM_DELTA_TABLE,
        delta_stream_sink_batch,
    )
    from bigdataindexing_spark.streaming.core import run_foreach_batch

    table_dir = _STREAM_DELTA_TABLE.dir(spark, sf_dir)
    commits_before = sorted(
        os.listdir(os.path.join(table_dir, "_delta_log"))
    )
    rows_before = read_snapshot(spark, table_dir).count()
    assert len(commits_before) == 4  # v0 base + 3 streamed batches

    # txn actions present on every streamed commit
    for name in commits_before[1:]:
        with open(os.path.join(table_dir, "_delta_log", name)) as f:
            actions = [json.loads(line) for line in f]
        txns = [a["txn"] for a in actions if "txn" in a]
        assert len(txns) == 1 and txns[0]["appId"] == ST18_APP_ID

    # replay: fresh checkpoint, same source -> all batches re-delivered
    src = _STREAM_DELTA_TABLE.meta(spark, sf_dir)
    docs_schema = read_snapshot(spark, table_dir).schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_foreach_batch(
        stream, delta_stream_sink_batch(table_dir, 0), str(tmp_path / "ckpt")
    )

    commits_after = sorted(os.listdir(os.path.join(table_dir, "_delta_log")))
    assert commits_after == commits_before, "replay must not add commits"
    assert read_snapshot(spark, table_dir).count() == rows_before
    assert {a["path"] for a in replay(table_dir).files} == {
        "part-base.parquet",
        "part-s0.parquet",
        "part-s1.parquet",
        "part-s2.parquet",
    }
