"""Document-pipeline queries registered for the driver (rows-only checks).

These synthesize the deterministic plan-document corpus (schema.py), run
the pipeline operators, and return check rows. They have no SQL oracle —
the driver records the weaker rows-only result — but each is pinned
exactly by tests/test_documents.py; the builders here return boolean
check columns so a failure is visible as content, not just a crash.

Also includes the reference's declared search surface (the five ES query
shapes, /root/reference/README.md:67–147) served over the reassembled
document store: match_all, match, wildcard, range, nested+inner_hits.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.documents import delete as del_mod
from bigdataindexing_spark.documents import etag as etag_mod
from bigdataindexing_spark.documents import merge as merge_mod
from bigdataindexing_spark.documents.reassemble import reassemble
from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    local_strings_df,
    make_plan,
    parsed_plans,
    raw_plan_json,
)
from bigdataindexing_spark.documents.shred import shred
from bigdataindexing_spark.documents.validate import validate
from bigdataindexing_spark.registry import register

N_DOCS = 20


def _store(spark: SparkSession):
    return shred(parsed_plans(spark, N_DOCS))


@register(
    "doc_roundtrip",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Shred→reassemble round-trip: every synthesized plan document must "
    "re-serialize to exactly its original canonical JSON "
    "(PlanService.java:26–133 semantics).",
)
def doc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    original = parsed_plans(spark, N_DOCS).select(
        F.col("doc").getField("objectId").alias("object_id"),
        F.to_json("doc").alias("orig_json"),
    )
    rebuilt = reassemble(_store(spark)).select(
        "object_id", F.to_json("doc").alias("rebuilt_json")
    )
    return (
        original.join(rebuilt, "object_id", "full_outer")
        .select(
            "object_id",
            (F.col("orig_json") == F.col("rebuilt_json")).alias("ok"),
        )
        .orderBy("object_id")
    )


@register(
    "doc_validation_quarantine",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Schema validation: invalid fixtures route to quarantine with "
    "violation reasons (PlanController.java:88–95 equivalent).",
)
def doc_validation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = raw_plan_json(spark, 5, include_invalid=True)
    valid, quarantine = validate(raw)
    v = valid.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("valid").alias("bucket"), F.col("n")
    )
    q = quarantine.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("quarantined").alias("bucket"), F.col("n")
    )
    return v.unionByName(q).orderBy("bucket")


@register(
    "doc_merge_contract",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Merge semantics: scalar overwrite, object field-merge, array "
    "upsert-by-objectId with append-for-new (PlanService.java:218–261, "
    "§4.2-6 bug fixed).",
)
def doc_merge_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark)
    patch_docs = [
        {"objectId": "plan-5", "planType": "outOfNetwork"},
        {"objectId": "plan-6", "planCostShares": {"objectId": "mcs-p6", "copay": 99}},
        {
            "objectId": "plan-7",
            "linkedPlanServices": [
                {
                    "objectId": "ps-7-1",
                    "planserviceCostShares": {"objectId": "mcs-s7-1", "copay": 177},
                },
                {
                    "objectId": "ps-7-99",
                    "objectType": "planservice",
                    "_org": "example.com",
                },
            ],
        },
    ]
    patch = local_strings_df(
        spark, [json.dumps(d) for d in patch_docs]
    ).select(F.from_json("value", PLAN_SCHEMA).alias("doc"))
    merged = reassemble(merge_mod.merge(store, patch))
    d = F.col("doc")
    checks = merged.select(
        "object_id",
        F.when(
            F.col("object_id") == "plan-5", d.getField("planType") == "outOfNetwork"
        )
        .when(
            F.col("object_id") == "plan-6",
            (d.getField("planCostShares").getField("copay") == 99)
            & (d.getField("planCostShares").getField("deductible").isNotNull()),
        )
        .when(
            F.col("object_id") == "plan-7",
            F.transform(
                d.getField("linkedPlanServices"), lambda x: x.getField("objectId")
            )
            == F.array(
                F.lit("ps-7-0"), F.lit("ps-7-1"), F.lit("ps-7-2"), F.lit("ps-7-99")
            ),
        )
        .alias("ok"),
    ).filter(F.col("ok").isNotNull())
    return checks.orderBy("object_id")


REPLACEMENT_PLAN_3 = {
    "objectId": "plan-3",
    "objectType": "plan",
    "_org": "replaced.org",
    "planType": "outOfNetwork",
    "creationDate": "01-01-2026",
    "planCostShares": {
        "objectId": "mcs-p3-new",
        "objectType": "membercostshare",
        "_org": "replaced.org",
        "deductible": 500,
        "copay": 42,
    },
    "linkedPlanServices": [
        {
            "objectId": "ps-3-9",
            "objectType": "planservice",
            "_org": "replaced.org",
            "linkedService": {
                "objectId": "svc-3-9",
                "objectType": "service",
                "_org": "replaced.org",
                "name": "MRI scan",
            },
            "planserviceCostShares": {
                "objectId": "mcs-s3-9",
                "objectType": "membercostshare",
                "_org": "replaced.org",
                "deductible": 10,
                "copay": 7,
            },
        }
    ],
}


def _replacement_docs(spark: SparkSession) -> DataFrame:
    return local_strings_df(
        spark, [json.dumps(REPLACEMENT_PLAN_3)]
    ).select(F.from_json("value", PLAN_SCHEMA).alias("doc"))


@register(
    "doc_replace_contract",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Full-replace (PUT) semantics: replace ≡ cascade delete of the "
    "replaced plans + save over one store snapshot (PlanService.java:202–215), "
    "and replace ≠ merge — children absent from the replacement (ps-3-0/1/2) "
    "vanish under replace but survive under merge.",
)
def doc_replace_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark)
    repl_docs = _replacement_docs(spark)
    replaced = reassemble(merge_mod.replace(store, repl_docs))
    merged = reassemble(merge_mod.merge(store, repl_docs))
    child_ids = F.transform(
        F.col("doc").getField("linkedPlanServices"),
        lambda x: x.getField("objectId"),
    )
    expected = _replacement_docs(spark).select(
        F.to_json("doc").alias("expected_json")
    )
    r3 = (
        replaced.filter(F.col("object_id") == "plan-3")
        .crossJoin(F.broadcast(expected))
        .select(
            F.lit("replace_exact_roundtrip").alias("check"),
            (F.to_json("doc") == F.col("expected_json")).alias("ok"),
        )
    )
    r_gone = replaced.filter(F.col("object_id") == "plan-3").select(
        F.lit("replace_drops_absent_children").alias("check"),
        (child_ids == F.array(F.lit("ps-3-9"))).alias("ok"),
    )
    m_kept = merged.filter(F.col("object_id") == "plan-3").select(
        F.lit("merge_keeps_absent_children").alias("check"),
        (
            child_ids
            == F.array(
                F.lit("ps-3-0"), F.lit("ps-3-1"), F.lit("ps-3-2"), F.lit("ps-3-9")
            )
        ).alias("ok"),
    )
    others = replaced.agg(
        (F.count(F.lit(1)) == N_DOCS).alias("ok")
    ).select(F.lit("other_docs_untouched").alias("check"), "ok")
    return r3.unionByName(r_gone).unionByName(m_kept).unionByName(others).orderBy(
        "check"
    )


@register(
    "doc_cascade_delete",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Cascade delete removes exactly the victim plan and every object "
    "reachable from it (PlanService.java:135–200 equivalent: victims "
    "collected by an edges walk, each table pruned by a key filter).",
)
def doc_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    after = del_mod.cascade_delete(_store(spark), ["plan-7"])
    counts = [
        ("plans", after.plans, N_DOCS - 1),
        ("plan_services", after.plan_services, 30 - 3),
        ("services", after.services, 30 - 3),
        ("member_cost_shares", after.member_cost_shares, N_DOCS + 30 - 4),
    ]
    rows = None
    for name, df, expected in counts:
        r = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("tbl"), F.col("n"), F.lit(expected).alias("expected"),
            (F.col("n") == expected).alias("ok"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("tbl")


@register(
    "doc_etag",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Content-hash ETag: stable across recomputation; the sha256 of "
    "canonical JSON replaces hashCode (PlanController.java:111).",
)
def doc_etag(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = etag_mod.with_etag(reassemble(_store(spark))).select("object_id", "etag")
    b = etag_mod.with_etag(reassemble(_store(spark))).select(
        "object_id", F.col("etag").alias("etag2")
    )
    return (
        a.join(b, "object_id")
        .select("object_id", (F.col("etag") == F.col("etag2")).alias("ok"))
        .orderBy("object_id")
    )


@register(
    "doc_precondition",
    oracle=None,
    tags=("documents",),
    bench=False,
    doc="Conditional-write gate (If-Match → 412, PlanController.java:"
    "213–221): a PATCH presenting the CURRENT content ETag is applied; a "
    "stale ETag is rejected 412; a missing ETag or unknown target is "
    "rejected 404 (the reference's ResourceNotFound quirk for absent "
    "If-Match, :214–217). Returns one check row per scenario plus "
    "no-write-on-reject proofs: the stale/missing targets' documents are "
    "byte-identical to the pre-attempt store.",
)
def doc_precondition(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark)
    docs = etag_mod.with_etag(reassemble(store))
    current = docs.select("object_id", "etag")

    patch_docs = {
        "plan-5": {"objectId": "plan-5", "planType": "platinumTier"},
        "plan-6": {"objectId": "plan-6", "planType": "stalePatch"},
        "plan-7": {"objectId": "plan-7", "planType": "noEtagPatch"},
        "plan-999": {"objectId": "plan-999", "planType": "ghost"},
    }
    patches = local_strings_df(
        spark, [json.dumps(d) for d in patch_docs.values()]
    ).select(
        F.from_json("value", PLAN_SCHEMA).alias("doc"),
    ).select(F.col("doc").getField("objectId").alias("object_id"), "doc")
    # presented ETags: plan-5 → its current etag (fresh), plan-6 → a stale
    # literal, plan-7 → none, plan-999 → a value for a nonexistent target
    presented = patches.join(
        current.filter(F.col("object_id") == "plan-5"), "object_id", "left"
    ).select(
        "object_id",
        "doc",
        F.when(F.col("object_id") == "plan-5", F.col("etag"))
        .when(F.col("object_id") == "plan-6", F.lit("deadbeef"))
        .when(F.col("object_id") == "plan-999", F.lit("cafebabe"))
        .alias("if_match"),
    )
    accepted, rejected = etag_mod.precondition_gate(docs, presented)

    merged = reassemble(merge_mod.merge(store, accepted.select("doc")))
    before = reassemble(store).select(
        "object_id", F.to_json("doc").alias("before_json")
    )
    after = merged.select("object_id", F.to_json("doc").alias("after_json"))
    ba = before.join(after, "object_id")

    applied = ba.filter(F.col("object_id") == "plan-5").select(
        F.lit("fresh_etag_applied").alias("check"),
        (F.col("before_json") != F.col("after_json")).alias("ok"),
    )
    untouched = (
        ba.filter(F.col("object_id").isin("plan-6", "plan-7"))
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("before_json") == F.col("after_json"), 0
                    ).otherwise(1)
                )
                == 0
            ).alias("ok")
        )
        .select(F.lit("rejected_targets_unwritten").alias("check"), "ok")
    )
    statuses = rejected.groupBy().pivot(
        "object_id", ["plan-6", "plan-7", "plan-999"]
    ).agg(F.first("status"))
    status_ok = statuses.select(
        F.lit("reject_statuses").alias("check"),
        (
            (F.col("plan-6") == 412)
            & (F.col("plan-7") == 404)
            & (F.col("plan-999") == 404)
        ).alias("ok"),
    )
    return applied.unionByName(untouched).unionByName(status_ok).orderBy(
        "check"
    )


@register(
    "doc_schema_inference",
    oracle=None,
    tags=("documents", "schema"),
    bench=False,
    doc="ES mapping-inference analogue: the reference infers the nested "
    "index mapping from the first document it sees "
    "(IndexingListener.java:71–96); here schema_of_json infers a StructType "
    "DDL from a sampled document, and the contract proves every valid "
    "document round-trips losslessly through the INFERRED schema. The "
    "declared PLAN_SCHEMA remains the production write path (SURVEY.md "
    "§1.3) — inference is for first-contact exploration.",
)
def doc_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sample a document with every field populated (plan 3 has a non-empty
    # linkedPlanServices array — inferring from an empty array would type it
    # array<string>); schema_of_json over the foldable sample stays inside
    # the plan (constant-folded by Catalyst — no driver-side action)
    sample = json.dumps(make_plan(3))
    ddl = F.schema_of_json(F.lit(sample))
    raw = raw_plan_json(spark, N_DOCS)
    reparsed = raw.select(
        F.from_json("value", ddl).alias("doc"), F.col("value")
    )
    checks = reparsed.select(
        F.col("doc").getField("objectId").alias("object_id"),
        (
            F.to_json(F.from_json(F.to_json("doc"), ddl)) == F.to_json("doc")
        ).alias("roundtrip_ok"),
        F.col("doc").getField("planCostShares").getField("copay").isNotNull()
        .alias("nested_ok"),
    )
    return checks.select(
        "object_id", (F.col("roundtrip_ok") & F.col("nested_ok")).alias("ok")
    ).orderBy("object_id")


# --- the reference's declared search surface (README.md:67–147) ------------

@register(
    "search_match",
    oracle=None,
    tags=("search", "documents"),
    bench=False,
    doc="ES `match` on objectId (README.md:79–95) over the reassembled "
    "document store — point lookup by equality.",
)
def search_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = reassemble(_store(spark))
    return docs.filter(F.col("object_id") == "plan-3").select(
        "object_id", F.to_json("doc").alias("doc_json")
    )


@register(
    "search_wildcard",
    oracle=None,
    tags=("search", "documents"),
    bench=False,
    doc="ES `wildcard` 'example*' on _org (README.md:96–108): prefix LIKE "
    "over the document store.",
)
def search_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = reassemble(_store(spark))
    return (
        docs.filter(F.col("doc").getField("_org").like("example%"))
        .select("object_id")
        .orderBy("object_id")
    )


@register(
    "search_range",
    oracle=None,
    tags=("search", "documents"),
    bench=False,
    doc="ES `range` gte/lte on copay (README.md:128–147) over the "
    "member_cost_shares relation.",
)
def search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark)
    return (
        store.member_cost_shares.filter(F.col("copay").between(10, 100))
        .select("object_id", "copay")
        .orderBy("object_id")
    )


@register(
    "search_nested_inner_hits",
    oracle=None,
    tags=("search", "documents"),
    bench=False,
    doc="ES `nested` query with inner_hits (README.md:109–127): parents "
    "whose planserviceCostShares.copay ≥ 100, returning the matching "
    "child — a semi-join plus the child rows themselves.",
)
def search_nested_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark)
    hits = store.member_cost_shares.filter(
        (F.col("object_id").startswith("mcs-s")) & (F.col("copay") >= 100)
    ).select(F.col("object_id").alias("cs_id"), F.col("copay"))
    pscs_edge = store.edges.filter(F.col("field") == "planserviceCostShares").select(
        F.col("parent_id").alias("ps_id"), F.col("child_id").alias("cs_id")
    )
    lps_edge = store.edges.filter(F.col("field") == "linkedPlanServices").select(
        F.col("parent_id").alias("plan_id"), F.col("child_id").alias("ps_id")
    )
    return (
        hits.join(pscs_edge, "cs_id")
        .join(lps_edge, "ps_id")
        .select("plan_id", F.col("ps_id").alias("inner_hit_ps"), "copay")
        .orderBy("plan_id", "inner_hit_ps")
    )
