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

Like the reference, which reads the stored objects a request names, merges
them and saves those keys only, :func:`merge` touches only the patch's rows:
the shredded patch is collected in one job, the stored rows its keys touch
in one more, the upsert runs on the driver, and each returned table is a
NULL-safe key-filtered scan of the store unioned with the merged rows as a
local relation — no join and no shuffle. True PUT semantics — absent
fields must vanish — is :func:`replace`: a cascade delete of the replaced
plans + save.
"""

from __future__ import annotations

import json
import operator
from collections import defaultdict
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.delete import _isin, cascade_delete
from bigdataindexing_spark.documents.schema import local_strings_df
from bigdataindexing_spark.documents.shred import ShreddedTables, shred, sized

ARRAY_FIELD = "linkedPlanServices"
# single-object edges are keyed like the reference's relation keys
SINGLE_KEY = ("parent_type", "parent_id", "field")


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


def _collect_json(parts: dict[str, DataFrame]) -> dict[str, list[dict]]:
    """Every row of every part as a dict, in one job: the parts are unioned
    as ``(part, to_json(struct(*)))``. A NULL field is an absent key."""
    out: dict[str, list[dict]] = {name: [] for name in parts}
    if not parts:
        return out
    tagged = [
        df.select(F.lit(name).alias("part"), F.to_json(F.struct(*df.columns)).alias("j"))
        for name, df in parts.items()
    ]
    for name, j in sized(reduce(DataFrame.unionByName, tagged)).collect():
        out[name].append(json.loads(j))
    return out


def _upsert(stored: list[dict], patch: list[dict], cols: list[str]) -> list[dict]:
    """The rows a full outer join on ``object_id`` with field-level
    coalesce (patch wins where set) yields for the patch's rows: each
    stored row of a patched key is replaced by one merged row per patch
    row of that key, and a patch row whose key is absent (or NULL) is
    added as it is. ``stored`` holds every stored row of the patch's
    non-NULL keys."""
    by_key = defaultdict(list)
    for c in stored:
        by_key[c.get("object_id")].append(c)
    out = []
    for p in patch:
        matches = by_key.get(p.get("object_id"), [])
        if not matches:
            out.append(p)
        for c in matches:
            out.append({x: c.get(x) if p.get(x) is None else p[x] for x in cols})
    return out


def _appended(stored: list[dict], patch: list[dict]) -> list[dict]:
    """``linkedPlanServices`` edges the patch adds. Children are matched on
    ``(parent_id, child_id)``; a child already stored keeps its edge and
    ordinal, a new one appends after the parent's current max ordinal in
    patch order (ties by child id). ``stored`` holds the array edges of the
    patch's non-NULL parents, so a NULL parent never matches; shredded
    patch edges always carry ``ord`` and ``child_id``."""
    existing = {(e["parent_id"], e["child_id"]) for e in stored if e.get("child_id") is not None}
    max_ord: dict[str, int] = {}
    for e in stored:
        if e.get("ord") is not None:
            max_ord[e["parent_id"]] = max(e["ord"], max_ord.get(e["parent_id"], e["ord"]))
    new = defaultdict(list)
    for e in patch:
        if (e.get("parent_id"), e["child_id"]) not in existing:
            new[e.get("parent_id")].append(e)
    out = []
    for pid, es in new.items():
        es.sort(key=lambda e: (e["ord"], e["child_id"]))
        out += [dict(e, ord=max_ord.get(pid, -1) + i) for i, e in enumerate(es, 1)]
    return out


def _in_single_keys(keys: set[tuple]) -> F.Column:
    """``(parent_type, parent_id, field) ∈ keys``, NULL-safe: a NULL never
    matches, as in an equi-join."""
    by_type_field = defaultdict(set)
    for t, pid, f in keys:
        by_type_field[(t, f)].add(pid)
    return reduce(
        operator.or_,
        [
            F.col("parent_type").eqNullSafe(t) & F.col("field").eqNullSafe(f) & _isin("parent_id", ids)
            for (t, f), ids in by_type_field.items()
        ],
    )


def _with_rows(kept: DataFrame, rows: list[dict], patch: DataFrame) -> DataFrame:
    """``kept`` ∪ ``rows``, the rows as a JVM-side local relation typed as
    ``kept`` ∪ ``patch`` (``createDataFrame`` would pickle them through a
    Python RDD, see ``schema.local_strings_df``)."""
    if not rows:
        return kept
    schema = kept.unionByName(patch).schema
    local = local_strings_df(kept.sparkSession, [json.dumps(r) for r in rows]).select(
        F.from_json("value", schema).alias("r")
    )
    return kept.unionByName(local.select("r.*"))


def merge(current: ShreddedTables, patch_docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Apply patch documents (parsed PLAN_SCHEMA structs, sparse fields)
    to the current shredded store; returns the merged store.

    Two collects: the shredded patch, then the stored rows its keys touch
    (typed rows by ``object_id``; ``linkedPlanServices`` edges by
    ``parent_id`` for the new-child ordinals). Both are held on the
    driver and are patch-sized: the patch's objects plus the stored rows of
    those keys. Each returned table is the store minus the replaced rows
    (a NULL-safe key filter: typed tables on ``object_id``, single-object
    edges on ``(parent_type, parent_id, field)``) unioned with the merged
    rows; rows the patch does not touch, NULL-keyed ones too, pass through
    unchanged. An empty patch returns the store unchanged.
    """
    p = shred(patch_docs, doc_col)
    patch = _collect_json(p.as_dict())
    typed = [name for name in current.as_dict() if name != "edges"]
    keys = {n: {r["object_id"] for r in patch[n] if r.get("object_id") is not None} for n in typed}
    single = [e for e in patch["edges"] if e.get("field") != ARRAY_FIELD]
    array = [e for e in patch["edges"] if e.get("field") == ARRAY_FIELD]
    single_keys = {k for k in (tuple(e.get(c) for c in SINGLE_KEY) for e in single) if None not in k}
    array_pids = {e["parent_id"] for e in array if e.get("parent_id") is not None}

    touched = {n: getattr(current, n).filter(_isin("object_id", keys[n])) for n in typed if keys[n]}
    if array_pids:
        touched["edges"] = current.edges.filter(
            F.col("field").eqNullSafe(ARRAY_FIELD) & _isin("parent_id", array_pids)
        ).select("parent_id", "child_id", "ord")
    stored = _collect_json(touched)

    out = {}
    for n in typed:
        cur = getattr(current, n)
        kept = cur.filter(~_isin("object_id", keys[n])) if keys[n] else cur
        rows = _upsert(stored.get(n, []), patch[n], cur.columns)
        out[n] = _with_rows(kept, rows, getattr(p, n))
    kept = current.edges.filter(~_in_single_keys(single_keys)) if single_keys else current.edges
    rows = single + _appended(stored.get("edges", []), array)
    out["edges"] = _with_rows(kept, rows, p.edges)
    return ShreddedTables(**out)
