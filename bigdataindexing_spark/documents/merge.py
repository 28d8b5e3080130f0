"""Merge/patch semantics over the shredded store.

Spark-native equivalent of the reference's JSON merge
(PlanService.java:218–261) with the §4.2-6 bug fixed (a patch element whose
objectId is absent from the saved array must APPEND, never remove the last
element — contract pinned in tests/test_documents.py):

- scalar field: patch non-null overwrites, absent (null) keeps current
  (PlanService.java:254; "absent keys untouched" :228–229);
- nested object: field-wise merge by objectId; a different objectId
  repoints the relation edge to the new child (PlanService.java:231–239);
- array: upsert by element objectId — existing elements keep their stored
  order, patched fields merge, new ids append after the current maximum
  ordinal (PlanService.java:240–252, fixed semantics).

Everything is joins + coalesce: no cascade delete/rewrite of the whole
tree (the reference's updatePlan deletes and re-inserts everything,
PlanService.java:202–215 — write amplification we deliberately avoid for
PATCH). True PUT semantics — absent fields must vanish — is
:func:`replace`: a cascade delete of the replaced plans + save.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.delete import cascade_delete
from bigdataindexing_spark.documents.shred import ShreddedTables, shred

ARRAY_FIELD = "linkedPlanServices"


def replace(
    current: ShreddedTables, replacement_docs: DataFrame, doc_col: str = "doc"
) -> ShreddedTables:
    """Full-replace (PUT) semantics: cascade delete, then save.

    The reference's ``updatePlan`` deletes the stored plan tree and saves
    the request body (PlanService.java:202–215); the defining consequence
    is that fields and children ABSENT from the replacement document
    VANISH — unlike :func:`merge`, which keeps them. The replacement
    documents' plan ids are collected (one small job) and handed to
    :func:`~bigdataindexing_spark.documents.delete.cascade_delete`; each
    returned table is that key-filtered table unioned with the shredded
    replacement. Delete and save read the same store snapshot, so a
    reader of the returned tables never observes the half-deleted
    intermediate state the reference's two-step delete-then-reinsert
    exposes (§4.2-3).
    """
    repl = shred(replacement_docs, doc_col)
    plan_ids = [
        r[0] for r in replacement_docs.select(F.col(doc_col).getField("objectId")).collect()
    ]
    pruned = cascade_delete(current, plan_ids)
    return ShreddedTables(
        plans=pruned.plans.unionByName(repl.plans),
        plan_services=pruned.plan_services.unionByName(repl.plan_services),
        services=pruned.services.unionByName(repl.services),
        member_cost_shares=pruned.member_cost_shares.unionByName(
            repl.member_cost_shares
        ),
        edges=pruned.edges.unionByName(repl.edges),
    )


def _upsert(current: DataFrame, patch: DataFrame, key: str = "object_id") -> DataFrame:
    """Row-level upsert with field-level coalesce (patch wins where set)."""
    cols = [c for c in current.columns if c != key]
    c = current.alias("c")
    p = patch.alias("p")
    return c.join(p, on=key, how="full_outer").select(
        F.col(key),
        *[F.coalesce(F.col(f"p.{x}"), F.col(f"c.{x}")).alias(x) for x in cols],
    )


def merge(current: ShreddedTables, patch_docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Apply patch documents (parsed PLAN_SCHEMA structs, sparse fields)
    to the current shredded store; returns the merged store."""
    p = shred(patch_docs, doc_col)

    plans = _upsert(current.plans, p.plans)
    plan_services = _upsert(current.plan_services, p.plan_services)
    services = _upsert(current.services, p.services)
    member_cost_shares = _upsert(current.member_cost_shares, p.member_cost_shares)

    # --- edges ----------------------------------------------------------
    cur_e = current.edges
    pat_e = p.edges

    # single-object fields: patch edge replaces the existing edge for the
    # same (parent_type, parent_id, field)
    cur_single = cur_e.filter(F.col("field") != ARRAY_FIELD)
    pat_single = pat_e.filter(F.col("field") != ARRAY_FIELD)
    kept_single = cur_single.join(
        pat_single.select("parent_type", "parent_id", "field").distinct(),
        ["parent_type", "parent_id", "field"],
        "left_anti",
    )
    merged_single = kept_single.unionByName(pat_single)

    # array field: existing children keep their ordinal; new children
    # append after the current max ordinal in patch order
    cur_arr = cur_e.filter(F.col("field") == ARRAY_FIELD)
    pat_arr = pat_e.filter(F.col("field") == ARRAY_FIELD)
    new_children = pat_arr.join(
        cur_arr.select("parent_id", "child_id"), ["parent_id", "child_id"], "left_anti"
    )
    max_ord = cur_arr.groupBy("parent_id").agg(F.max("ord").alias("max_ord"))
    w = Window.partitionBy("parent_id").orderBy("ord")
    appended = (
        new_children.join(max_ord, "parent_id", "left")
        .withColumn(
            "ord",
            F.coalesce(F.col("max_ord"), F.lit(-1)) + F.row_number().over(w),
        )
        .drop("max_ord")
        .select(*cur_arr.columns)
    )
    merged_edges = merged_single.unionByName(cur_arr).unionByName(appended)

    return ShreddedTables(
        plans, plan_services, services, member_cost_shares, merged_edges
    )
