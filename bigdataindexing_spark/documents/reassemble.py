"""Reassemble shredded relations back into nested plan documents.

Spark-native equivalent of the reference's recursive point-read
(PlanService.java:87–133): where the reference does a KEYS glob plus one
Redis GET per nested object (N+1 round-trips), we run one DataFrame DAG —
equi-joins against the ``edges`` relation, children aggregated with
``collect_list(struct(ord, ...))`` and re-ordered by the stored ordinal,
then re-nested with ``struct()``. The whole store reassembles in two
shuffle stages regardless of document count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.schema import PLAN_SCHEMA
from bigdataindexing_spark.documents.shred import ShreddedTables


def _cost_shares(t: ShreddedTables, doc_field: str) -> DataFrame:
    """(cs_id, <doc_field>): each member_cost_shares row as its sub-document."""
    return t.member_cost_shares.select(
        F.col("object_id").alias("cs_id"),
        F.struct(
            F.col("object_id").alias("objectId"),
            F.lit("membercostshare").alias("objectType"),
            F.col("org").alias("_org"),
            F.col("deductible").alias("deductible"),
            F.col("copay").alias("copay"),
        ).alias(doc_field),
    )


def reassemble(t: ShreddedTables) -> DataFrame:
    """(object_id, doc) — one nested plan document per plans row.

    Field order matches PLAN_SCHEMA exactly, so ``to_json(doc)`` is a
    canonical rendering (schema order is struct order in Spark).
    """
    # --- planservice sub-documents -------------------------------------
    svc_edge = t.edges.filter(F.col("field") == "linkedService").select(
        F.col("parent_id").alias("ps_id"), F.col("child_id").alias("svc_id")
    )
    pscs_edge = t.edges.filter(F.col("field") == "planserviceCostShares").select(
        F.col("parent_id").alias("ps_id"), F.col("child_id").alias("cs_id")
    )
    svc = t.services.select(
        F.col("object_id").alias("svc_id"),
        F.struct(
            F.col("object_id").alias("objectId"),
            F.lit("service").alias("objectType"),
            F.col("org").alias("_org"),
            F.col("name").alias("name"),
        ).alias("linkedService"),
    )
    ps_doc = (
        t.plan_services.select(F.col("object_id").alias("ps_id"), F.col("org"))
        .join(svc_edge, "ps_id", "left")
        .join(svc, "svc_id", "left")
        .join(pscs_edge, "ps_id", "left")
        .join(_cost_shares(t, "planserviceCostShares"), "cs_id", "left")
        .select(
            "ps_id",
            F.struct(
                F.col("ps_id").alias("objectId"),
                F.lit("planservice").alias("objectType"),
                F.col("org").alias("_org"),
                F.col("linkedService"),
                F.col("planserviceCostShares"),
            ).alias("ps_doc"),
        )
    )

    # --- plan root: planCostShares + ordered linkedPlanServices ---------
    pcs_edge = t.edges.filter(
        (F.col("field") == "planCostShares") & (F.col("parent_type") == "plan")
    ).select(F.col("parent_id").alias("plan_id"), F.col("child_id").alias("cs_id"))
    lps_edge = t.edges.filter(F.col("field") == "linkedPlanServices").select(
        F.col("parent_id").alias("plan_id"),
        F.col("ord"),
        F.col("child_id").alias("ps_id"),
    )
    # children gathered per plan, re-ordered by the stored ordinal
    lps = (
        lps_edge.join(ps_doc, "ps_id")
        .groupBy("plan_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("ord"), F.col("ps_doc")))),
                lambda x: x.getField("ps_doc"),
            ).alias("linkedPlanServices")
        )
    )

    return (
        t.plans.select(
            F.col("object_id"), F.col("org"), F.col("plan_type"), F.col("creation_date")
        )
        .join(pcs_edge, F.col("object_id") == F.col("plan_id"), "left")
        .drop("plan_id")
        .join(_cost_shares(t, "planCostShares"), "cs_id", "left")
        .join(lps.withColumnRenamed("plan_id", "object_id"), "object_id", "left")
        .select(
            "object_id",
            F.struct(
                F.col("object_id").alias("objectId"),
                F.lit("plan").alias("objectType"),
                F.col("org").alias("_org"),
                F.col("plan_type").alias("planType"),
                F.col("creation_date").alias("creationDate"),
                F.col("planCostShares"),
                F.coalesce(
                    F.col("linkedPlanServices"),
                    F.array().cast(PLAN_SCHEMA["linkedPlanServices"].dataType),
                ).alias("linkedPlanServices"),
            ).alias("doc"),
        )
    )
