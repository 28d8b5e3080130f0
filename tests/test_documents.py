"""Executable contracts for the document pipeline (SURVEY.md §5.2).

These pin the semantics of the reference's core operators —
shred (PlanService.java:26–85), reassemble (:87–133), merge (:218–261,
with the §4.2-6 array bug fixed), cascade delete (:135–200), schema
validation (PlanController.java:88–95) and ETag (:111–131) — as behavior
contracts, since the reference itself ships no tests.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.documents import delete as del_mod
from bigdataindexing_spark.documents import etag as etag_mod
from bigdataindexing_spark.documents import merge as merge_mod
from bigdataindexing_spark.documents.reassemble import reassemble
from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    REQUIRED_PATHS,
    local_strings_df,
    make_plan,
    parsed_plans,
    raw_plan_json,
)
from bigdataindexing_spark.documents.shred import ShreddedTables, shred
from bigdataindexing_spark.documents.validate import validate

N_DOCS = 20


@pytest.fixture(scope="module")
def store(spark):
    docs = parsed_plans(spark, N_DOCS)
    t = shred(docs)
    for df in t.as_dict().values():
        df.cache().count()
    yield t
    for df in t.as_dict().values():
        df.unpersist()


def _parsed(spark, docs):
    return local_strings_df(spark, [json.dumps(d) for d in docs]).select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )


def _docs_json(df, doc_col="doc"):
    rows = df.select(
        F.col(doc_col).getField("objectId").alias("id"),
        F.to_json(doc_col).alias("js"),
    ).collect()
    return {r["id"]: json.loads(r["js"]) for r in rows}


def test_shred_reassemble_roundtrip(spark, store):
    original = _docs_json(parsed_plans(spark, N_DOCS))
    rebuilt = _docs_json(reassemble(store))
    assert sorted(original) == sorted(rebuilt)
    for k in original:
        assert rebuilt[k] == original[k], f"roundtrip mismatch for {k}"


def test_shred_table_shapes(store):
    # doc i has i%4 services; 20 docs -> sum(i%4) = 30 planservices
    assert store.plans.count() == N_DOCS
    assert store.plan_services.count() == 30
    assert store.services.count() == 30
    assert store.member_cost_shares.count() == N_DOCS + 30
    # edges: 1 planCostShares per plan + 30 array edges + 2 per planservice
    assert store.edges.count() == N_DOCS + 30 + 60


def test_validation_quarantine(spark):
    raw = raw_plan_json(spark, 5, include_invalid=True)
    valid, quarantine = validate(raw)
    assert valid.count() == 5
    reasons = [set(r["reason"]) for r in quarantine.collect()]
    assert len(reasons) == 9
    flat = set().union(*reasons)
    assert "objectId" in flat and "planType" in flat
    assert "linkedPlanServices[].linkedService.name" in flat
    # type violation (copay: "not-a-number") -> that leaf parses to null
    assert "planCostShares.copay" in flat
    # the unparseable body quarantines with every required path missing
    # (PERMISSIVE from_json yields an all-null struct for garbage input)
    assert any(len(r) >= len(REQUIRED_PATHS) for r in reasons)


def test_merge_scalar_overwrite(spark, store):
    patch = spark.createDataFrame(
        [(json.dumps({"objectId": "plan-5", "planType": "outOfNetwork"}),)],
        "value string",
    ).select(F.from_json("value", PLAN_SCHEMA).alias("doc"))
    merged = merge_mod.merge(store, patch)
    docs = _docs_json(reassemble(merged))
    assert docs["plan-5"]["planType"] == "outOfNetwork"
    # untouched fields and sibling docs unchanged
    assert docs["plan-5"]["creationDate"] == make_plan(5)["creationDate"]
    assert docs["plan-4"] == _docs_json(parsed_plans(spark, N_DOCS))["plan-4"]


def test_merge_object_field_merge(spark, store):
    # same objectId -> field-wise merge (copay changes, deductible kept)
    patch_doc = {
        "objectId": "plan-6",
        "planCostShares": {"objectId": "mcs-p6", "copay": 99},
    }
    patch = spark.createDataFrame([(json.dumps(patch_doc),)], "value string").select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )
    docs = _docs_json(reassemble(merge_mod.merge(store, patch)))
    cs = docs["plan-6"]["planCostShares"]
    assert cs["copay"] == 99
    assert cs["deductible"] == make_plan(6)["planCostShares"]["deductible"]
    assert cs["_org"] == make_plan(6)["planCostShares"]["_org"]


def test_merge_array_upsert_existing(spark, store):
    # plan-7 has services ps-7-0..2; patch element ps-7-1 with new copay
    patch_doc = {
        "objectId": "plan-7",
        "linkedPlanServices": [
            {
                "objectId": "ps-7-1",
                "planserviceCostShares": {"objectId": "mcs-s7-1", "copay": 177},
            }
        ],
    }
    patch = spark.createDataFrame([(json.dumps(patch_doc),)], "value string").select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )
    docs = _docs_json(reassemble(merge_mod.merge(store, patch)))
    lps = docs["plan-7"]["linkedPlanServices"]
    # order preserved: ps-7-0, ps-7-1, ps-7-2
    assert [e["objectId"] for e in lps] == ["ps-7-0", "ps-7-1", "ps-7-2"]
    assert lps[1]["planserviceCostShares"]["copay"] == 177
    # merged, not replaced: linkedService untouched
    assert lps[1]["linkedService"]["objectId"] == "svc-7-1"


def test_merge_array_upsert_new_appends(spark, store):
    # §4.2-6 contract: unknown objectId appends; nothing is removed
    new_elem = make_plan(7)["linkedPlanServices"][0].copy()
    new_elem["objectId"] = "ps-7-99"
    patch_doc = {"objectId": "plan-7", "linkedPlanServices": [new_elem]}
    patch = spark.createDataFrame([(json.dumps(patch_doc),)], "value string").select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )
    docs = _docs_json(reassemble(merge_mod.merge(store, patch)))
    lps = docs["plan-7"]["linkedPlanServices"]
    assert [e["objectId"] for e in lps] == [
        "ps-7-0",
        "ps-7-1",
        "ps-7-2",
        "ps-7-99",
    ]


def test_merge_keeps_untouched_null_field_edges(spark, store):
    """Rows a patch does not touch pass through unchanged, a NULL-field
    edge of another plan too."""
    odd = local_strings_df(spark, ["x"]).select(
        F.lit("plan").alias("parent_type"),
        F.lit("plan-x").alias("parent_id"),
        F.lit(None).cast("string").alias("field"),
        F.lit(0).alias("ord"),
        F.lit("membercostshare").alias("child_type"),
        F.lit("mcs-x").alias("child_id"),
    )
    edges = store.edges.unionByName(odd)
    t = ShreddedTables(**{**store.as_dict(), "edges": edges})
    merged = merge_mod.merge(t, _parsed(spark, [{"objectId": "plan-1", "planType": "x"}]))
    before = sorted(map(tuple, edges.collect()), key=repr)
    assert sorted(map(tuple, merged.edges.collect()), key=repr) == before
    assert ("plan", "plan-x", None, 0, "membercostshare", "mcs-x") in before


def test_update_writes_are_one_file_per_table(spark, tmp_path):
    """Ingest, then PATCH, PUT and DELETE, each written into a fresh
    directory: every table of every store is one file at this scale."""
    from bigdataindexing_spark.documents import contracts as C
    from bigdataindexing_spark.documents.shred import TABLE_NAMES, read_tables, write_tables
    from bigdataindexing_spark.sources.json_ingest import ingest_batch

    in_dir = str(tmp_path / "in")
    raw_plan_json(spark, N_DOCS, include_invalid=True).coalesce(2).write.text(in_dir)
    ingest_batch(spark, in_dir, str(tmp_path / "s0"))
    updates = [
        lambda t: merge_mod.merge(t, _parsed(spark, [{"objectId": "plan-7", "planType": "x"}])),
        lambda t: merge_mod.replace(t, C._replacement_docs(spark)),
        lambda t: del_mod.cascade_delete(t, ["plan-5"]),
    ]
    for k, update in enumerate(updates, 1):
        write_tables(update(read_tables(spark, str(tmp_path / f"s{k - 1}"))), str(tmp_path / f"s{k}"))
    for k in range(len(updates) + 1):
        names = TABLE_NAMES + (("quarantine",) if k == 0 else ())
        files = {n: len(_parquet_files(tmp_path / f"s{k}" / f"{n}.parquet")) for n in names}
        assert files == dict.fromkeys(names, 1), (k, files)


def test_sized_writes_scale_with_planned_bytes(spark, tmp_path):
    """With a small read-split size the store is written in more than one
    file, never more than ceil(planned bytes / split size)."""
    from bigdataindexing_spark.documents.shred import TABLE_NAMES, planned_bytes
    from bigdataindexing_spark.sources.json_ingest import ingest_batch

    in_dir = str(tmp_path / "in")
    raw_plan_json(spark, 200).write.text(in_dir)
    key, target = "spark.sql.files.maxPartitionBytes", 16 * 1024
    old = spark.conf.get(key)
    spark.conf.set(key, str(target))
    try:
        tables, _ = ingest_batch(spark, in_dir, str(tmp_path / "store"))
        bound = {n: -(-planned_bytes(getattr(tables, n)) // target) for n in TABLE_NAMES}
    finally:
        spark.conf.set(key, old)
    files = {n: len(_parquet_files(tmp_path / "store" / f"{n}.parquet")) for n in TABLE_NAMES}
    assert all(1 <= files[n] <= bound[n] for n in TABLE_NAMES), (files, bound)
    assert files["edges"] > 1, (files, bound)


def _parquet_files(path) -> list:
    return [f for f in path.iterdir() if f.name.endswith(".parquet")]


def test_cascade_delete(spark, store):
    after = del_mod.cascade_delete(store, ["plan-7"])
    assert after.plans.filter(F.col("object_id") == "plan-7").count() == 0
    # plan-7's closure: 3 planservices + their services + 4 cost shares
    assert after.plan_services.filter(
        F.col("object_id").startswith("ps-7-")
    ).count() == 0
    assert after.services.filter(F.col("object_id").startswith("svc-7-")).count() == 0
    assert (
        after.member_cost_shares.filter(
            F.col("object_id").isin("mcs-p7", "mcs-s7-0", "mcs-s7-1", "mcs-s7-2")
        ).count()
        == 0
    )
    assert after.edges.filter(F.col("parent_id").startswith("ps-7-")).count() == 0
    # nothing else touched
    assert after.plans.count() == N_DOCS - 1
    rebuilt = _docs_json(reassemble(after))
    assert rebuilt["plan-6"] == _docs_json(parsed_plans(spark, N_DOCS))["plan-6"]


def test_cascade_delete_empty_id_list_is_noop(store):
    after = del_mod.cascade_delete(store, [])
    for name, df in after.as_dict().items():
        before = getattr(store, name)
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, before.collect())), name


def test_update_plans_have_no_join_or_exchange(spark, tmp_path):
    """DELETE and PUT prune every table with a key filter over victims
    collected once, and PATCH filters out the rows it replaces: each
    returned table executes as scan → filter (∪ the shredded replacement or
    the merged rows), with no join and no shuffle."""
    from bigdataindexing_spark.documents import contracts as C
    from bigdataindexing_spark.documents.shred import read_tables, write_tables

    write_tables(shred(parsed_plans(spark, N_DOCS)), str(tmp_path))
    on_disk = read_tables(spark, str(tmp_path))
    patch = {
        "objectId": "plan-7",
        "planType": "outOfNetwork",
        "planCostShares": {"objectId": "mcs-p7", "copay": 1},
        "linkedPlanServices": [
            {"objectId": "ps-7-1", "linkedService": {"objectId": "svc-7-1", "name": "x"}},
            {"objectId": "ps-7-99", "_org": "example.com"},
        ],
    }
    updates = {
        "delete": del_mod.cascade_delete(on_disk, ["plan-7", "plan-3"]),
        "replace": merge_mod.replace(on_disk, C._replacement_docs(spark)),
        "merge": merge_mod.merge(on_disk, _parsed(spark, [patch])),
    }
    for kind, tables in updates.items():
        for name, df in tables.as_dict().items():
            df.collect()
            p = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in p and "Join" not in p, (kind, name, p)


def test_etag_contract(spark, store):
    docs = reassemble(store)
    tagged = etag_mod.with_etag(docs)
    etags = {r["object_id"]: r["etag"] for r in tagged.collect()}
    # deterministic: recompute -> identical
    etags2 = {r["object_id"]: r["etag"] for r in etag_mod.with_etag(reassemble(store)).collect()}
    assert etags == etags2
    # any field change -> different etag
    patch = spark.createDataFrame(
        [(json.dumps({"objectId": "plan-5", "planType": "CHANGED"}),)], "value string"
    ).select(F.from_json("value", PLAN_SCHEMA).alias("doc"))
    etags3 = {
        r["object_id"]: r["etag"]
        for r in etag_mod.with_etag(reassemble(merge_mod.merge(store, patch))).collect()
    }
    assert etags3["plan-5"] != etags["plan-5"]
    assert etags3["plan-6"] == etags["plan-6"]
    # if_none_match: client holding current etags fetches nothing; a stale
    # client fetches exactly the changed doc
    client = spark.createDataFrame(
        [(k, v) for k, v in etags.items()], "object_id string, etag string"
    )
    refetch = etag_mod.if_none_match(etag_mod.with_etag(reassemble(store)), client)
    assert refetch.count() == 0
    refetch2 = etag_mod.if_none_match(
        etag_mod.with_etag(reassemble(merge_mod.merge(store, patch))), client
    )
    assert [r["object_id"] for r in refetch2.collect()] == ["plan-5"]


def test_replace_put_semantics(spark, store):
    """Full-replace (PUT): replace ≡ cascade-delete closure + save, and
    ≠ merge — children absent from the replacement vanish
    (PlanService.java:202–215 updatePlan semantics, atomic here)."""
    from bigdataindexing_spark.documents import contracts as C

    repl = C._replacement_docs(spark)
    replaced = _docs_json(reassemble(merge_mod.replace(store, repl)))
    original = _docs_json(parsed_plans(spark, N_DOCS))
    # delete-then-save semantics at the document level: everything else
    # untouched, plan-3 is exactly the replacement body
    expected = dict(original)
    expected["plan-3"] = C.REPLACEMENT_PLAN_3
    assert replaced == expected
    # field-removal case separates replace from merge: plan-3's original
    # children ps-3-0/1/2 are absent from the replacement
    assert [
        e["objectId"] for e in replaced["plan-3"]["linkedPlanServices"]
    ] == ["ps-3-9"]
    merged = _docs_json(reassemble(merge_mod.merge(store, repl)))
    assert [
        e["objectId"] for e in merged["plan-3"]["linkedPlanServices"]
    ] == ["ps-3-0", "ps-3-1", "ps-3-2", "ps-3-9"]
    # the old closure is gone from the physical store, not just hidden by
    # reassembly
    t2 = merge_mod.replace(store, repl)
    ps_ids = {r["object_id"] for r in t2.plan_services.select("object_id").collect()}
    assert "ps-3-0" not in ps_ids and "ps-3-9" in ps_ids
    mcs_ids = {
        r["object_id"] for r in t2.member_cost_shares.select("object_id").collect()
    }
    assert "mcs-p3" not in mcs_ids and "mcs-p3-new" in mcs_ids


def test_precondition_gate(spark, store):
    """If-Match conditional write (PlanController.java:213–221): fresh ETag
    applies, stale ETag → 412, missing ETag or unknown target → 404, and
    rejected attempts leave the store byte-identical."""
    from bigdataindexing_spark.documents import etag as etag_mod
    from bigdataindexing_spark.documents.contracts import doc_precondition

    rows = {r["check"]: r["ok"] for r in doc_precondition(spark, "").collect()}
    assert rows == {
        "fresh_etag_applied": True,
        "rejected_targets_unwritten": True,
        "reject_statuses": True,
    }

    # unit-level: the gate's split is exact — accepted carries ONLY the
    # fresh-etag attempt, rejected carries the other three with the right
    # status codes
    docs = etag_mod.with_etag(reassemble(store))
    cur5 = (
        docs.filter(F.col("object_id") == "plan-5")
        .select("etag")
        .collect()[0][0]
    )
    attempts = spark.createDataFrame(
        [
            ("plan-5", cur5),
            ("plan-6", "deadbeef"),
            ("plan-7", None),
            ("plan-999", "cafebabe"),
        ],
        "object_id STRING, if_match STRING",
    )
    accepted, rejected = etag_mod.precondition_gate(docs, attempts)
    assert [r["object_id"] for r in accepted.collect()] == ["plan-5"]
    rej = {r["object_id"]: r["status"] for r in rejected.collect()}
    assert rej == {"plan-6": 412, "plan-7": 404, "plan-999": 404}
