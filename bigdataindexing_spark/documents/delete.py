"""Cascade delete over the shredded store.

Spark-native equivalent of the reference's recursive delete
(PlanService.java:135–200), which walks a plan's relation keys once and
removes each object. Here the victims are computed once per delete: the
``edges`` relation is walked hop by hop from the plan ids (fixed 3-level
hierarchy ⇒ 2 hops, no KEYS glob over the keyspace, PlanService.java:161),
each hop one filter scan of ``edges`` collected to the driver. Every table
is then pruned with a plain key filter, so each table rewrite is a single
scan → filter → write stage with no join and no shuffle.

Atomic per write: the victims and the prune read the same snapshot the
caller passed in, and the caller writes the result into a fresh directory,
so readers never observe a half-deleted tree (the reference's
delete-then-reinsert update is not atomic, §4.2-3).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.shred import ShreddedTables

# hops below the plan roots: plan → planservice/membercostshare → service/membercostshare
DEPTH = 2


def _isin(col: str, ids: set[str]) -> F.Column:
    """``col ∈ ids``, NULL-safe: a NULL is never a member, as an equi-join
    never matches NULL, so the ``~`` of it keeps NULL-keyed rows."""
    return F.coalesce(F.col(col).isin(sorted(ids)), F.lit(False))


def _in_keys(keys: dict[str, set[str]]) -> F.Column:
    """``(parent_type, parent_id) ∈ keys``, NULL-safe like :func:`_isin`."""
    return reduce(
        operator.or_,
        [F.col("parent_type").eqNullSafe(t) & _isin("parent_id", ids) for t, ids in keys.items()],
    )


def _victims(edges: DataFrame, plan_ids: list[str]) -> dict[str, set[str]]:
    """``{obj_type: ids}`` — the plans and every object reachable from them.
    A NULL type or id is never a victim."""
    frontier = {"plan": set(plan_ids) - {None}}
    victims: dict[str, set[str]] = {}
    for hop in range(DEPTH + 1):
        frontier = {t: ids for t, ids in frontier.items() if ids}
        for t, ids in frontier.items():
            victims.setdefault(t, set()).update(ids)
        if hop == DEPTH or not frontier:
            break
        rows = edges.filter(_in_keys(frontier)).select("child_type", "child_id").collect()
        frontier = {}
        for child_type, child_id in rows:
            if child_type is not None and child_id is not None:
                frontier.setdefault(child_type, set()).add(child_id)
    return victims


def cascade_delete(t: ShreddedTables, plan_ids: list[str]) -> ShreddedTables:
    """Remove the given plans and every object reachable from them.

    The victim set is held on the driver: its size is the objects of the
    touched documents, the same order as the ``plan_ids`` list the caller
    already holds. Unknown and duplicate ids are no-ops; an empty list
    returns the store unchanged. A row with a NULL ``object_id`` (or NULL
    ``parent_id``) is never a victim.
    """
    victims = _victims(t.edges, plan_ids)

    def prune(df: DataFrame, obj_type: str) -> DataFrame:
        if obj_type not in victims:
            return df
        return df.filter(~_isin("object_id", victims[obj_type]))

    return ShreddedTables(
        plans=prune(t.plans, "plan"),
        plan_services=prune(t.plan_services, "planservice"),
        services=prune(t.services, "service"),
        member_cost_shares=prune(t.member_cost_shares, "membercostshare"),
        edges=t.edges.filter(~_in_keys(victims)) if victims else t.edges,
    )
