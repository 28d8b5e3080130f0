"""Property-based contracts for the document engine (hypothesis).

The deterministic contracts in test_documents.py pin specific examples of
the reference's semantics (PlanService.java:26–261); these generate random
document shapes — varying copays/plan types, truncated service arrays,
random patch subsets — and assert the INVARIANTS that must hold for any
input:

- shred → reassemble is the identity on valid documents;
- merge is idempotent (applying the same patch twice = once);
- a patch carrying only objectIds is a no-op;
- replace (PUT) reproduces exactly the replacement documents — children
  absent from the replacement vanish (the merge/replace distinction);
- cascade_delete and replace, which collect the victims once and prune
  each table with a key filter, equal the naive set-oriented formulation
  (edges join closure + ``left_anti`` per table) on adversarial stores:
  NULL keys, shared children, dangling edges, unknown/duplicate roots;
- merge, which upserts the touched rows on the driver, equals the
  full-outer-join upsert and the join formulation of the edge rules on
  adversarial stores and patches;
- shred and validate, each table one SQL expression, equal the
  Column-API formulation (a union of per-field selects over a
  ``posexplode_outer``) row for row and type for type, on NULL, sparse,
  duplicate, type-violating and malformed bodies.

Examples are kept small (each one runs real Spark jobs); the point is
shape coverage, not volume.
"""

from __future__ import annotations

import json

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdataindexing_spark.documents import delete as del_mod
from bigdataindexing_spark.documents import merge as merge_mod
from bigdataindexing_spark.documents.reassemble import reassemble
from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    REQUIRED_ELEMENT_PATHS,
    REQUIRED_PATHS,
    local_strings_df,
    make_plan,
)
from bigdataindexing_spark.documents.shred import ShreddedTables, shred
from bigdataindexing_spark.documents.validate import validate

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def plan_doc_sets(draw):
    idxs = draw(
        st.lists(st.integers(0, 40), min_size=1, max_size=4, unique=True)
    )
    docs = []
    for i in idxs:
        d = make_plan(i)
        d["planCostShares"]["copay"] = draw(st.integers(0, 500))
        d["planType"] = draw(
            st.sampled_from(["inNetwork", "outOfNetwork"])
        )
        if d["linkedPlanServices"] and draw(st.booleans()):
            d["linkedPlanServices"].pop()
        docs.append(d)
    return docs


def _parse(spark, docs):
    if not docs:
        return spark.createDataFrame([], "value string").select(
            F.from_json("value", PLAN_SCHEMA).alias("doc")
        )
    return local_strings_df(spark, [json.dumps(d) for d in docs]).select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )


def _reassembled_json(tables):
    rows = (
        reassemble(tables)
        .select(
            F.col("doc").getField("objectId").alias("id"),
            F.to_json("doc").alias("js"),
        )
        .collect()
    )
    return {r["id"]: json.loads(r["js"]) for r in rows}


def _canon(doc: dict) -> str:
    return json.dumps(doc, sort_keys=True)


@given(docs=plan_doc_sets())
@settings(**SETTINGS)
def test_shred_reassemble_roundtrip_property(spark, docs):
    out = _reassembled_json(shred(_parse(spark, docs)))
    assert len(out) == len(docs)
    for d in docs:
        assert _canon(out[d["objectId"]]) == _canon(d)


@given(docs=plan_doc_sets(), data=st.data())
@settings(**SETTINGS)
def test_merge_idempotent_property(spark, docs, data):
    store = shred(_parse(spark, docs))
    # sparse patch: a random subset of docs, each patching root planType
    # and (where present) one nested cost-share copay
    subset = data.draw(
        st.lists(
            st.sampled_from([d["objectId"] for d in docs]),
            min_size=1,
            max_size=len(docs),
            unique=True,
        )
    )
    patches = []
    for d in docs:
        if d["objectId"] not in subset:
            continue
        p = {
            "objectId": d["objectId"],
            "planType": data.draw(
                st.sampled_from(["inNetwork", "outOfNetwork"])
            ),
            "planCostShares": {
                "objectId": d["planCostShares"]["objectId"],
                "copay": data.draw(st.integers(0, 999)),
            },
        }
        patches.append(p)
    patch_df = _parse(spark, patches)
    once = _reassembled_json(merge_mod.merge(store, patch_df))
    twice = _reassembled_json(
        merge_mod.merge(merge_mod.merge(store, patch_df), patch_df)
    )
    assert {k: _canon(v) for k, v in once.items()} == {
        k: _canon(v) for k, v in twice.items()
    }
    # and the patch actually applied
    for p in patches:
        assert once[p["objectId"]]["planType"] == p["planType"]
        assert (
            once[p["objectId"]]["planCostShares"]["copay"]
            == p["planCostShares"]["copay"]
        )


@given(docs=plan_doc_sets())
@settings(**SETTINGS)
def test_id_only_patch_is_noop(spark, docs):
    store = shred(_parse(spark, docs))
    patch = _parse(
        spark, [{"objectId": d["objectId"]} for d in docs]
    )
    before = _reassembled_json(store)
    after = _reassembled_json(merge_mod.merge(store, patch))
    assert {k: _canon(v) for k, v in before.items()} == {
        k: _canon(v) for k, v in after.items()
    }


@given(docs=plan_doc_sets(), data=st.data())
@settings(**SETTINGS)
def test_replace_reproduces_replacement_exactly(spark, docs, data):
    store = shred(_parse(spark, docs))
    # replacement for one doc: drop ALL services and change a scalar —
    # replace must make the store reflect exactly this document
    victim = data.draw(st.sampled_from(docs))
    repl = make_plan(0)
    repl["objectId"] = victim["objectId"]
    repl["planCostShares"] = dict(
        victim["planCostShares"], copay=data.draw(st.integers(0, 999))
    )
    repl["linkedPlanServices"] = []
    out = _reassembled_json(
        merge_mod.replace(store, _parse(spark, [repl]))
    )
    assert _canon(out[victim["objectId"]]) == _canon(repl)
    # sibling documents untouched
    for d in docs:
        if d["objectId"] != victim["objectId"]:
            assert _canon(out[d["objectId"]]) == _canon(d)


# --- cascade delete against the naive join oracle ---------------------------

TABLE_COLS = {
    "plans": (("object_id", "string"), ("org", "string"), ("plan_type", "string"),
              ("creation_date", "string")),
    "plan_services": (("object_id", "string"), ("org", "string")),
    "services": (("object_id", "string"), ("org", "string"), ("name", "string")),
    "member_cost_shares": (("object_id", "string"), ("org", "string"),
                           ("deductible", "int"), ("copay", "int")),
    "edges": (("parent_type", "string"), ("parent_id", "string"), ("field", "string"),
              ("ord", "int"), ("child_type", "string"), ("child_id", "string")),
}
TABLE_TYPE = {
    "plans": "plan",
    "plan_services": "planservice",
    "services": "service",
    "member_cost_shares": "membercostshare",
}
# a small id pool so roots repeat, children are shared by several parents,
# replacement children (make_plan ids) collide with stored rows, and
# "ghost" ids sit in no table at all
IDS = ("plan-1", "plan-2", "ps-1-0", "ps-2-0", "svc-1-0", "mcs-p1", "mcs-p2", "ghost", None)
TYPES = ("plan", "planservice", "service", "membercostshare", "ghost", None)
VALUES = {"string": ("a", None), "int": (1, None)}


def _table(spark, cols, rows) -> DataFrame:
    """A driver-literal table (JVM-side, like schema.local_strings_df)."""
    if not rows:
        return spark.createDataFrame([], ", ".join(f"{n} {t}" for n, t in cols))
    return spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(*[F.lit(v).cast(t).alias(n) for (n, t), v in zip(cols, row)])
                    for row in rows
                ]
            )
        )
    )


@st.composite
def adversarial_stores(draw):
    ids, types = st.sampled_from(IDS), st.sampled_from(TYPES)
    rows = {}
    for name, cols in TABLE_COLS.items():
        if name == "edges":
            # typed hierarchy edges plus arbitrary (possibly NULL, possibly
            # dangling or cyclic) ones
            row = st.tuples(types, ids, st.just("f"), st.integers(0, 2), types, ids)
        else:
            row = st.tuples(ids, *[st.sampled_from(VALUES[t]) for _, t in cols[1:]])
        rows[name] = draw(st.lists(row, max_size=6))
    hierarchy = [
        ("plan", "plan-1", "f", 0, "planservice", "ps-1-0"),
        ("plan", "plan-2", "f", 0, "planservice", "ps-1-0"),  # shared child
        ("planservice", "ps-1-0", "f", 0, "service", "svc-1-0"),
        ("plan", "plan-1", "f", 1, "membercostshare", "mcs-p1"),
        ("planservice", "ps-2-0", "f", 0, "membercostshare", "mcs-p2"),
    ]
    rows["edges"] += draw(st.lists(st.sampled_from(hierarchy), max_size=5))
    roots = draw(st.lists(ids, max_size=4))
    return rows, roots


# every adversarial shape at once, so each run checks it whatever is drawn
ADVERSARIAL = (
    {
        "plans": [("plan-1", "a", None, "a"), ("plan-2", None, "a", None), (None, "a", "a", "a")],
        "plan_services": [("ps-1-0", "a"), ("ps-2-0", None), (None, "a")],
        "services": [("svc-1-0", "a", "a"), (None, None, None)],
        "member_cost_shares": [("mcs-p1", "a", 1, None), ("mcs-p2", None, None, 1), (None, "a", 1, 1)],
        "edges": [
            ("plan", "plan-1", "f", 0, "planservice", "ps-1-0"),
            ("plan", "plan-2", "f", 0, "planservice", "ps-1-0"),  # shared child
            ("planservice", "ps-1-0", "f", 0, "service", "svc-1-0"),
            ("plan", "plan-1", "f", 1, "service", "ghost"),  # child in no table
            ("plan", None, "f", 0, "membercostshare", "mcs-p2"),
            (None, "plan-1", "f", 0, "membercostshare", "mcs-p2"),
            ("plan", "plan-1", "f", 2, "membercostshare", None),
        ],
    },
    ["plan-1", "plan-1", "plan-9", None],  # duplicate, unknown and NULL roots
)


def _store_of(spark, rows) -> ShreddedTables:
    return ShreddedTables(**{n: _table(spark, TABLE_COLS[n], r) for n, r in rows.items()})


def _naive_delete(spark, t: ShreddedTables, plan_ids) -> ShreddedTables:
    """Two edge-join hops from the plan roots, then ``left_anti`` per table."""
    roots = _table(
        spark, (("obj_type", "string"), ("obj_id", "string")), [("plan", i) for i in plan_ids]
    )
    frontier = seen = roots
    for _ in range(2):
        frontier = (
            t.edges.join(
                frontier,
                (t.edges.parent_type == frontier.obj_type)
                & (t.edges.parent_id == frontier.obj_id),
            )
            .select(F.col("child_type").alias("obj_type"), F.col("child_id").alias("obj_id"))
            .distinct()
        )
        seen = seen.unionByName(frontier).distinct()

    def prune(name):
        vs = seen.filter(F.col("obj_type") == TABLE_TYPE[name]).select(
            F.col("obj_id").alias("object_id")
        )
        return getattr(t, name).join(vs, "object_id", "left_anti")

    edges = t.edges.join(
        seen,
        (t.edges.parent_type == seen.obj_type) & (t.edges.parent_id == seen.obj_id),
        "left_anti",
    )
    return ShreddedTables(**{n: prune(n) for n in TABLE_TYPE}, edges=edges)


def _rows(t: ShreddedTables) -> dict[str, Counter]:
    return {n: Counter(map(tuple, df.collect())) for n, df in t.as_dict().items()}


@given(case=adversarial_stores())
@example(case=ADVERSARIAL)
@settings(**SETTINGS)
def test_cascade_delete_equals_join_oracle(spark, case):
    rows, roots = case
    store = _store_of(spark, rows)
    assert _rows(del_mod.cascade_delete(store, roots)) == _rows(
        _naive_delete(spark, store, roots)
    )


@given(case=adversarial_stores(), idxs=st.lists(st.integers(1, 3), min_size=1, max_size=3))
@example(case=ADVERSARIAL, idxs=[1, 1, 3])
@settings(**SETTINGS)
def test_replace_equals_join_oracle(spark, case, idxs):
    rows, _ = case
    store = _store_of(spark, rows)
    # replacement ids repeat (idxs may), hit stored plans (plan-1/2) and
    # miss the store (plan-3)
    repl = _parse(spark, [make_plan(i) for i in idxs])
    pruned = _naive_delete(spark, store, sorted({f"plan-{i}" for i in idxs}))
    saved = shred(repl)
    expected = ShreddedTables(
        **{n: df.unionByName(getattr(saved, n)) for n, df in pruned.as_dict().items()}
    )
    assert _rows(merge_mod.replace(store, repl)) == _rows(expected)


# --- merge against the full-outer-join oracle --------------------------------

ARRAY_FIELD = merge_mod.ARRAY_FIELD
FIELDS = ("planCostShares", ARRAY_FIELD, "linkedService", "planserviceCostShares", None)


def _oracle_upsert(current: DataFrame, patch: DataFrame) -> DataFrame:
    """Row-level upsert with field-level coalesce (patch wins where set)."""
    cols = [c for c in current.columns if c != "object_id"]
    c, p = current.alias("c"), patch.alias("p")
    return c.join(p, on="object_id", how="full_outer").select(
        F.col("object_id"),
        *[F.coalesce(F.col(f"p.{x}"), F.col(f"c.{x}")).alias(x) for x in cols],
    )


def _oracle_merge(current: ShreddedTables, patch_docs: DataFrame) -> ShreddedTables:
    """The set-oriented merge: a full outer join per typed table, and for
    edges a ``left_anti`` on the single-object key plus the array append
    by ``(parent_id, child_id)`` after the parent's max ordinal. The field
    split is NULL-safe (a NULL-field edge is a single-object edge), and the
    append order breaks ``ord`` ties by ``child_id`` so the expected
    ordinals are deterministic."""
    p = shred(patch_docs)
    cur_e, pat_e = current.edges, p.edges
    is_arr = F.col("field").eqNullSafe(ARRAY_FIELD)
    key = ["parent_type", "parent_id", "field"]
    cur_single, pat_single = cur_e.filter(~is_arr), pat_e.filter(~is_arr)
    kept_single = cur_single.join(pat_single.select(*key).distinct(), key, "left_anti")
    cur_arr, pat_arr = cur_e.filter(is_arr), pat_e.filter(is_arr)
    new_children = pat_arr.join(
        cur_arr.select("parent_id", "child_id"), ["parent_id", "child_id"], "left_anti"
    )
    max_ord = cur_arr.groupBy("parent_id").agg(F.max("ord").alias("max_ord"))
    w = Window.partitionBy("parent_id").orderBy("ord", "child_id")
    appended = (
        new_children.join(max_ord, "parent_id", "left")
        .withColumn("ord", F.coalesce(F.col("max_ord"), F.lit(-1)) + F.row_number().over(w))
        .select(*cur_arr.columns)
    )
    return ShreddedTables(
        **{n: _oracle_upsert(getattr(current, n), getattr(p, n)) for n in TABLE_TYPE},
        edges=kept_single.unionByName(pat_single).unionByName(cur_arr).unionByName(appended),
    )


def _cost_share(oid, copay):
    return {"objectId": oid, "objectType": "membercostshare", "_org": "b", "copay": copay}


@st.composite
def merge_cases(draw):
    """An adversarial store (NULL keys and fields, duplicate keys, a child
    shared by two plans, array edges under a non-plan parent of a plan's
    id) and a sparse patch (NULL and absent ids, duplicate documents,
    children old and new, possibly empty)."""
    ids, types = st.sampled_from(IDS), st.sampled_from(TYPES)
    rows = {}
    for name, cols in TABLE_COLS.items():
        if name == "edges":
            row = st.tuples(
                types, ids, st.sampled_from(FIELDS), st.sampled_from((0, 1, 2, None)), types, ids
            )
        else:
            row = st.tuples(ids, *[st.sampled_from(VALUES[t]) for _, t in cols[1:]])
        rows[name] = draw(st.lists(row, max_size=6))
    plan_ids = st.sampled_from(("plan-1", "plan-2", "plan-3", None))
    child_ids = st.sampled_from(("ps-1-0", "ps-2-0", "ps-new", None))
    docs = []
    for _ in range(draw(st.integers(0, 3))):
        d = {"objectId": draw(plan_ids)}
        if draw(st.booleans()):
            d["planType"] = draw(st.sampled_from(("x", "y")))
        if draw(st.booleans()):
            d["planCostShares"] = _cost_share(
                draw(st.sampled_from(("mcs-p1", "mcs-p2", "mcs-new", None))), draw(st.integers(0, 9))
            )
        if draw(st.booleans()):
            lps = []
            for _ in range(draw(st.integers(0, 3))):
                ps = {"objectId": draw(child_ids), "_org": draw(st.sampled_from(("b", None)))}
                if draw(st.booleans()):
                    ps["linkedService"] = {"objectId": draw(st.sampled_from(("svc-1-0", "svc-new"))),
                                           "name": "n"}
                if draw(st.booleans()):
                    ps["planserviceCostShares"] = _cost_share("mcs-p2", draw(st.integers(0, 9)))
                lps.append(ps)
            d["linkedPlanServices"] = lps
        docs.append(d)
    return rows, docs


# every merge shape at once, so each run checks it whatever is drawn
MERGE_ADVERSARIAL = (
    {
        "plans": [("plan-1", "a", "a", "a"), ("plan-1", None, "b", None), (None, "a", "a", "a"),
                  ("plan-2", "a", "a", "a")],
        "plan_services": [("ps-1-0", "a"), ("ps-2-0", None), (None, "a")],
        "services": [("svc-1-0", "a", "a"), (None, None, None)],
        "member_cost_shares": [("mcs-p1", "a", 1, None), ("mcs-p2", None, None, 1),
                               (None, "a", 1, 1)],
        "edges": [
            ("plan", "plan-1", "planCostShares", 0, "membercostshare", "mcs-p1"),
            ("plan", "plan-1", ARRAY_FIELD, 0, "planservice", "ps-1-0"),
            ("plan", "plan-2", ARRAY_FIELD, 0, "planservice", "ps-1-0"),  # shared child
            ("planservice", "plan-1", ARRAY_FIELD, 5, "planservice", "ps-x"),  # same id, other type
            ("plan", "plan-x", None, 0, "membercostshare", "mcs-p2"),  # NULL field
            ("plan", None, "planCostShares", 0, "membercostshare", "mcs-p2"),
            (None, "plan-1", "planCostShares", 0, "membercostshare", "mcs-p2"),
            ("plan", "plan-1", ARRAY_FIELD, None, "planservice", None),
        ],
    },
    [
        {"objectId": "plan-1", "planType": "x",
         "planCostShares": _cost_share("mcs-p1", 7),
         "linkedPlanServices": [{"objectId": "ps-1-0", "_org": "b"},
                                {"objectId": "ps-new", "linkedService": {"objectId": "svc-1-0"}}]},
        {"objectId": "plan-1", "planType": "y"},  # duplicate patch key
        {"objectId": "plan-3", "linkedPlanServices": [{"objectId": "ps-2-0"}]},  # not stored
        {"objectId": None, "planType": "x",
         "linkedPlanServices": [{"objectId": "ps-new"}, {"objectId": "ps-1-0"}]},
    ],
)


@given(case=merge_cases())
@example(case=MERGE_ADVERSARIAL)
@example(case=(MERGE_ADVERSARIAL[0], []))  # empty patch
@settings(**SETTINGS)
def test_merge_equals_upsert_oracle(spark, case):
    rows, docs = case
    store = _store_of(spark, rows)
    patch = _parse(spark, docs)
    assert _rows(merge_mod.merge(store, patch)) == _rows(_oracle_merge(store, patch))


# --- shred / validate against the Column-API formulation ---------------------


def _column_api_shred(docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Per-field selects over a ``posexplode_outer`` of linkedPlanServices,
    cost shares and edges unioned from one select per source."""
    d = F.col(doc_col)

    def cost_share_rows(col):
        return [col.getField(f).alias(a) for f, a in
                (("objectId", "object_id"), ("_org", "org"), ("deductible", "deductible"),
                 ("copay", "copay"))]

    def edge(parent_type, parent_id, field, ord_col, child_type, child_id):
        return [F.lit(parent_type).alias("parent_type"), parent_id.alias("parent_id"),
                F.lit(field).alias("field"), ord_col.alias("ord"),
                F.lit(child_type).alias("child_type"), child_id.alias("child_id")]

    plans = docs.select(
        d.getField("objectId").alias("object_id"),
        d.getField("_org").alias("org"),
        d.getField("planType").alias("plan_type"),
        d.getField("creationDate").alias("creation_date"),
    )
    lps = docs.select(
        d.getField("objectId").alias("plan_id"),
        F.posexplode_outer(d.getField("linkedPlanServices")).alias("ord", "ps"),
    ).filter(F.col("ps").isNotNull())
    ps, svc = F.col("ps"), F.col("ps").getField("linkedService")
    pscs = ps.getField("planserviceCostShares")
    plan_services = lps.select(
        ps.getField("objectId").alias("object_id"), ps.getField("_org").alias("org")
    ).filter(F.col("object_id").isNotNull())
    services = lps.select(
        svc.getField("objectId").alias("object_id"),
        svc.getField("_org").alias("org"),
        svc.getField("name").alias("name"),
    ).filter(F.col("object_id").isNotNull())
    member_cost_shares = (
        docs.select(*cost_share_rows(d.getField("planCostShares")))
        .unionByName(lps.select(*cost_share_rows(pscs)))
        .filter(F.col("object_id").isNotNull())
    )
    edges = (
        docs.select(*edge("plan", d.getField("objectId"), "planCostShares", F.lit(0),
                          "membercostshare", d.getField("planCostShares").getField("objectId")))
        .unionByName(lps.select(*edge("plan", F.col("plan_id"), "linkedPlanServices",
                                      F.col("ord"), "planservice", ps.getField("objectId"))))
        .unionByName(lps.select(*edge("planservice", ps.getField("objectId"), "linkedService",
                                      F.lit(0), "service", svc.getField("objectId"))))
        .unionByName(lps.select(*edge("planservice", ps.getField("objectId"),
                                      "planserviceCostShares", F.lit(0), "membercostshare",
                                      pscs.getField("objectId"))))
        .filter(F.col("child_id").isNotNull())
    )
    return ShreddedTables(plans, plan_services, services, member_cost_shares, edges)


def _column_api_validate(raw: DataFrame, value_col: str = "value"):
    """One ``when`` per required path over chained ``getField`` calls."""

    def nested(c, path):
        for seg in path.split("."):
            c = c.getField(seg)
        return c

    doc = F.col("doc")
    parts = [F.when(nested(doc, p).isNull(), F.lit(p)) for p in REQUIRED_PATHS]
    arr = F.coalesce(doc.getField("linkedPlanServices"), F.array())
    for p in REQUIRED_ELEMENT_PATHS:
        parts.append(F.when(F.exists(arr, lambda x: nested(x, p).isNull()),
                            F.lit(f"linkedPlanServices[].{p}")))
    annotated = raw.withColumn("doc", F.from_json(F.col(value_col), PLAN_SCHEMA)).withColumn(
        "reason",
        F.when(doc.isNull(), F.array(F.lit("malformed_json"))).otherwise(
            F.array_compact(F.array(*parts))
        ),
    )
    return (
        annotated.filter(F.size("reason") == 0).select(value_col, "doc"),
        annotated.filter(F.size("reason") > 0).select(value_col, "reason"),
    )


MALFORMED = ("{not valid json", "", "[]", "null", '"plan-1"', '{"objectId": ')


def _perturb(draw, doc: dict) -> dict:
    """One drawn defect in a valid plan: a NULL or absent field or child,
    a NULL, empty or absent linkedPlanServices, a NULL element, a NULL or
    repeated id, or a type violation."""
    lps = doc.get("linkedPlanServices")
    el = draw(st.sampled_from(lps)) if lps else {}
    kind = draw(st.sampled_from((
        "root_id", "pcs", "pcs_id", "copay", "lps_null", "lps_empty", "lps_absent",
        "null_el", "dup_el", "el_id", "svc", "svc_id", "pscs", "pscs_id",
    )))
    gone = draw(st.sampled_from(("null", "absent")))

    def drop(obj, key):
        if gone == "null":
            obj[key] = None
        else:
            obj.pop(key, None)

    if kind == "root_id":
        drop(doc, "objectId")
    elif kind == "pcs":
        drop(doc, "planCostShares")
    elif kind == "pcs_id" and doc.get("planCostShares"):
        drop(doc["planCostShares"], "objectId")
    elif kind == "copay" and doc.get("planCostShares"):
        doc["planCostShares"]["copay"] = "not-a-number"
    elif kind == "lps_null":
        doc["linkedPlanServices"] = None
    elif kind == "lps_empty":
        doc["linkedPlanServices"] = []
    elif kind == "lps_absent":
        doc.pop("linkedPlanServices", None)
    elif kind == "null_el" and lps is not None:
        lps.insert(draw(st.integers(0, len(lps))), None)
    elif kind == "dup_el" and el:
        lps.append(json.loads(json.dumps(el)))
    elif kind == "el_id" and el:
        drop(el, "objectId")
    elif kind in ("svc", "pscs") and el:
        drop(el, {"svc": "linkedService", "pscs": "planserviceCostShares"}[kind])
    elif kind in ("svc_id", "pscs_id") and el:
        child = el.get({"svc_id": "linkedService", "pscs_id": "planserviceCostShares"}[kind])
        if child:
            drop(child, "objectId")
    return doc


@st.composite
def raw_bodies(draw):
    """Plan bodies, some repeated (duplicate ids), each valid, perturbed
    one to three times, or malformed."""
    bodies = []
    for _ in range(draw(st.integers(1, 5))):
        shape = draw(st.sampled_from(("valid", "perturbed", "perturbed", "malformed")))
        if shape == "malformed":
            bodies.append(draw(st.sampled_from(MALFORMED)))
            continue
        doc = make_plan(draw(st.integers(0, 7)))
        for _ in range(draw(st.integers(1, 3)) if shape == "perturbed" else 0):
            doc = _perturb(draw, doc)
        bodies.append(json.dumps(doc))
    return bodies


def _absent(i: int, key: str) -> str:
    doc = make_plan(i)
    doc.pop(key)
    return json.dumps(doc)


# every defect at once, so each run checks it whatever is drawn
BODIES_ADVERSARIAL = [
    json.dumps(make_plan(3)),
    json.dumps(make_plan(3)),  # duplicate document
    json.dumps(dict(make_plan(2), objectId=None)),
    json.dumps(dict(make_plan(2), linkedPlanServices=None)),
    json.dumps(dict(make_plan(5), linkedPlanServices=[])),
    _absent(6, "linkedPlanServices"),
    _absent(6, "planCostShares"),
    json.dumps(dict(make_plan(3), linkedPlanServices=[
        None,
        {"objectId": "ps-x", "_org": "b"},  # no children
        {"objectId": None, "linkedService": {"objectId": "svc-x"},
         "planserviceCostShares": {"objectId": "mcs-x", "copay": 1}},
        {"objectId": "ps-y", "linkedService": {"objectId": None, "name": "n"},
         "planserviceCostShares": None},
        None,
    ])),
    json.dumps(dict(make_plan(1), planCostShares=dict(make_plan(1)["planCostShares"], copay="x"))),
    *MALFORMED,
]


def _multiset(df: DataFrame) -> Counter:
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in row) for row in df.collect()
    )


def _typed(df: DataFrame) -> list:
    return [(f.name, f.dataType) for f in df.schema.fields]


@given(bodies=raw_bodies())
@example(bodies=BODIES_ADVERSARIAL)
@settings(**SETTINGS)
def test_shred_and_validate_equal_column_api_oracle(spark, bodies):
    raw = local_strings_df(spark, bodies)
    for got, want in zip(validate(raw), _column_api_validate(raw)):
        assert _typed(got) == _typed(want)
        assert _multiset(got.select("value", F.to_json(got.columns[1]))) == _multiset(
            want.select("value", F.to_json(want.columns[1]))
        )
    # every parsed body, valid or not: NULL ids and children reach shred
    docs = raw.select(F.from_json("value", PLAN_SCHEMA).alias("doc"))
    want = _column_api_shred(docs).as_dict()
    for name, got in shred(docs).as_dict().items():
        assert _typed(got) == _typed(want[name]), name
        assert _multiset(got) == _multiset(want[name]), name
