"""S1/S7 ingest contracts: batch backfill, quarantine routing, and
streaming ingest ≡ batch ingest over identical input."""

from __future__ import annotations

import os

from bigdataindexing_spark.documents.schema import raw_plan_json
from bigdataindexing_spark.sources.json_ingest import (
    TABLE_NAMES,
    ingest_batch,
    ingest_stream,
    read_store,
)


def _write_input(spark, tmp_path, n=20, include_invalid=True):
    in_dir = str(tmp_path / "in")
    raw_plan_json(spark, n=n, include_invalid=include_invalid).coalesce(
        2
    ).write.mode("overwrite").text(in_dir)
    return in_dir


def test_batch_ingest_shreds_and_quarantines(spark, tmp_path):
    in_dir = _write_input(spark, tmp_path, n=20)
    out_dir = str(tmp_path / "store")
    tables, quarantine = ingest_batch(spark, in_dir, out_dir)

    assert tables.plans.count() == 20
    # plan #i carries i % 4 linkedPlanServices (documents/schema.make_plan),
    # each with a service + a cost share, plus one planCostShares per plan
    n_services = sum(i % 4 for i in range(20))
    assert tables.plan_services.count() == n_services
    assert tables.services.count() == n_services
    assert tables.member_cost_shares.count() == 20 + n_services
    bad = quarantine.collect()
    assert len(bad) > 0
    assert all(len(r["reason"]) > 0 for r in bad)
    # the store is on disk and re-readable
    store = read_store(spark, out_dir)
    assert store.edges.count() == tables.edges.count() > 0


def test_stream_ingest_equals_batch(spark, tmp_path):
    in_dir = _write_input(spark, tmp_path, n=15)
    batch_dir = str(tmp_path / "batch_store")
    stream_dir = str(tmp_path / "stream_store")
    ingest_batch(spark, in_dir, batch_dir)
    ingest_stream(spark, in_dir, stream_dir)

    batch_store = read_store(spark, batch_dir)
    stream_store = read_store(spark, stream_dir, streaming=True)
    for name in TABLE_NAMES:
        b = sorted(map(tuple, getattr(batch_store, name).collect()))
        s = sorted(map(tuple, getattr(stream_store, name).collect()))
        assert b == s, name


def test_stream_ingest_resumes_from_its_checkpoint(spark, tmp_path):
    """A second ingest_stream call over a grown input directory ingests
    only the added file, as batch=1, and the store then equals a batch
    ingest of every file."""
    import json

    from bigdataindexing_spark.documents.schema import make_plan

    in_dir, out_dir = tmp_path / "in", str(tmp_path / "store")
    in_dir.mkdir()

    def arrive(name: str, ids: range) -> None:
        (in_dir / name).write_text(
            "".join(json.dumps(make_plan(i)) + "\n" for i in ids)
        )

    arrive("part-0.jsonl", range(6))
    ingest_stream(spark, str(in_dir), out_dir)
    arrive("part-1.jsonl", range(6, 10))
    ingest_stream(spark, str(in_dir), out_dir)

    assert sorted(os.listdir(f"{out_dir}/plans")) == ["batch=0", "batch=1"]
    new = spark.read.parquet(f"{out_dir}/plans/batch=1").select("object_id")
    assert sorted(r[0] for r in new.collect()) == sorted(
        make_plan(i)["objectId"] for i in range(6, 10)
    )
    batch_dir = str(tmp_path / "batch_store")
    ingest_batch(spark, str(in_dir), batch_dir)
    batch_store = read_store(spark, batch_dir)
    stream_store = read_store(spark, out_dir, streaming=True)
    for name in TABLE_NAMES:
        b = sorted(map(tuple, getattr(batch_store, name).collect()))
        s = sorted(map(tuple, getattr(stream_store, name).collect()))
        assert b == s, name


def test_stream_ingest_replay_is_idempotent(spark, tmp_path):
    from bigdataindexing_spark.sources.json_ingest import _append_partials

    in_dir = _write_input(spark, tmp_path, n=5, include_invalid=False)
    out_dir = str(tmp_path / "store")
    raw = spark.read.text(in_dir)
    fn = _append_partials(out_dir)
    fn(raw, 0)
    once = sorted(map(tuple, read_store(spark, out_dir, streaming=True).plans.collect()))
    fn(raw, 0)  # replayed micro-batch
    twice = sorted(map(tuple, read_store(spark, out_dir, streaming=True).plans.collect()))
    assert once == twice


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Schema evolution across parquet files: a column added later merges
    into a unified schema, old rows read NULL for it — the contract a
    long-lived 100 TB table depends on."""
    from pyspark.sql import Row

    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha")], "doc_id BIGINT, text STRING"
    )
    v2 = spark.createDataFrame(
        [Row(doc_id=2, text="beta", lang="en")],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    v1.write.parquet(f"{base}/v1")
    v2.write.parquet(f"{base}/v2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/v1", f"{base}/v2"
    )
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in merged.collect()}
    assert rows[1]["lang"] is None
    assert rows[2]["lang"] == "en"
