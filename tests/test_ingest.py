"""S1/S7 ingest contracts: batch backfill, quarantine routing, and
streaming ingest ≡ batch ingest over identical input."""

from __future__ import annotations

import os
import re

import pytest

from bigdataindexing_spark.documents.schema import raw_plan_json
from bigdataindexing_spark.sources import json_ingest
from bigdataindexing_spark.sources.json_ingest import (
    TABLE_NAMES,
    ingest_batch,
    ingest_stream,
    read_store,
)
from tests.jobs import newest_job


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
    stream_store = read_store(spark, stream_dir)
    for name in TABLE_NAMES:
        b = sorted(map(tuple, getattr(batch_store, name).collect()))
        s = sorted(map(tuple, getattr(stream_store, name).collect()))
        assert b == s, name
    # every partial is one sized file, as the batch store's tables are
    for name in TABLE_NAMES + ("quarantine",):
        part = os.path.join(stream_dir, f"{name}.parquet", "batch=0")
        assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1, name


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

    assert sorted(os.listdir(f"{out_dir}/plans.parquet")) == ["batch=0", "batch=1"]
    new = spark.read.parquet(f"{out_dir}/plans.parquet/batch=1").select("object_id")
    assert sorted(r[0] for r in new.collect()) == sorted(
        make_plan(i)["objectId"] for i in range(6, 10)
    )
    batch_dir = str(tmp_path / "batch_store")
    ingest_batch(spark, str(in_dir), batch_dir)
    batch_store = read_store(spark, batch_dir)
    stream_store = read_store(spark, out_dir)
    for name in TABLE_NAMES:
        b = sorted(map(tuple, getattr(batch_store, name).collect()))
        s = sorted(map(tuple, getattr(stream_store, name).collect()))
        assert b == s, name


def test_stream_ingest_replay_is_idempotent(spark, tmp_path):
    from bigdataindexing_spark.sources.json_ingest import ingest

    in_dir = _write_input(spark, tmp_path, n=5, include_invalid=False)
    out_dir = str(tmp_path / "store")
    raw = spark.read.text(in_dir)
    ingest(raw, out_dir, 0)
    once = sorted(map(tuple, read_store(spark, out_dir).plans.collect()))
    ingest(raw, out_dir, 0)  # replayed micro-batch
    twice = sorted(map(tuple, read_store(spark, out_dir).plans.collect()))
    assert once == twice


def test_reading_a_store_starts_no_spark_job(spark, tmp_path):
    """The reader is given the declared table schemas, so opening a store
    (a batch store, or the stream partials beneath it) infers nothing from
    Parquet footers: no Spark job starts until the tables are queried."""
    in_dir = _write_input(spark, tmp_path, n=5)
    out_dir = str(tmp_path / "store")
    ingest_batch(spark, in_dir, out_dir)
    ingest_stream(spark, in_dir, out_dir)
    before = newest_job(spark)
    store = read_store(spark, out_dir)
    opened = newest_job(spark)
    assert opened == before
    # the batch files and the batch=0 partials are one table, and the
    # count's job is seen, so the tracker does see this thread's jobs
    assert store.plans.count() == 10
    assert newest_job(spark) > opened


def test_opening_a_table_stream_starts_no_spark_job(spark, sf_dir):
    """A test-table stream is given the file schema its table store
    recorded, so once the store is built, opening the ``events`` and
    ``documents`` streams infers nothing from Parquet footers."""
    from bigdataindexing_spark.streaming.core import stream_table
    from bigdataindexing_spark.tables import table

    for name in ("events", "documents"):
        table(spark, sf_dir, name)
        before = newest_job(spark)
        sdf = stream_table(spark, sf_dir, name)
        assert newest_job(spark) == before, name
        assert sdf.isStreaming and sdf.dtypes == table(spark, sf_dir, name).dtypes


def test_table_schemas_match_shred(spark):
    """The declared store format is exactly what shred produces: same
    tables, column names and types, so the typed reader cannot drift."""
    from bigdataindexing_spark.documents.schema import parsed_plans
    from bigdataindexing_spark.documents.shred import TABLE_SCHEMAS, shred

    tables = shred(parsed_plans(spark, 4)).as_dict()
    assert tuple(TABLE_SCHEMAS) == tuple(tables) == TABLE_NAMES
    for name, df in tables.items():
        got = [(f.name, f.dataType) for f in df.schema.fields]
        assert got == [(f.name, f.dataType) for f in TABLE_SCHEMAS[name].fields], name


def test_shred_tables_read_each_document_once(spark, tmp_path):
    """Each shredded table is one projection of the parsed documents: its
    optimized plan has no Union and at most one Generate, so the input is
    scanned and parsed once per table."""
    from bigdataindexing_spark.documents.shred import shred
    from bigdataindexing_spark.documents.validate import validate

    valid, _ = validate(spark.read.text(_write_input(spark, tmp_path, n=5)))
    for name, df in shred(valid).as_dict().items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan, (name, plan)
        assert len(re.findall(r"^[\s:|+-]*Generate ", plan, re.M)) <= 1, (name, plan)


def test_every_ingest_write_reads_the_persisted_batch(spark, tmp_path, monkeypatch):
    """The five tables and the quarantine are written from the one
    persisted, parsed and validated batch: each write's executed plan
    scans it in memory instead of re-reading and re-parsing the input."""
    from bigdataindexing_spark.documents.shred import sized

    plans, write = [], json_ingest.write_sized

    def spy(df, path):
        plans.append(sized(df)._jdf.queryExecution().executedPlan().toString())
        write(df, path)

    monkeypatch.setattr(json_ingest, "write_sized", spy)
    ingest_batch(spark, _write_input(spark, tmp_path, n=5), str(tmp_path / "store"))
    assert len(plans) == len(TABLE_NAMES) + 1
    assert all("InMemoryTableScan" in p for p in plans), plans


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_ingest_leaves_nothing_persisted(spark, tmp_path):
    """A batch ingest and a stream micro-batch release the batch they
    persist, and using the returned frames afterwards does not cache it
    again."""
    before = _persisted(spark)
    in_dir = _write_input(spark, tmp_path, n=5)
    tables, quarantine = ingest_batch(spark, in_dir, str(tmp_path / "batch"))
    assert _persisted(spark) == before
    for df in (*tables.as_dict().values(), quarantine):
        df.collect()
    assert _persisted(spark) == before
    ingest_stream(spark, in_dir, str(tmp_path / "stream"))
    assert _persisted(spark) == before


def test_failed_ingest_leaves_nothing_persisted(spark, tmp_path, monkeypatch):
    """A write that raises midway still releases the persisted batch."""
    before, write, calls = _persisted(spark), json_ingest.write_sized, []

    def failing(df, path):
        calls.append(path)
        if len(calls) == 3:
            raise OSError("disk full")
        write(df, path)

    monkeypatch.setattr(json_ingest, "write_sized", failing)
    with pytest.raises(OSError, match="disk full"):
        ingest_batch(spark, _write_input(spark, tmp_path, n=5), str(tmp_path / "store"))
    assert len(calls) == 3
    assert _persisted(spark) == before


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
