"""Shred (normalize) hierarchical plan documents into flat relations.

Spark-native equivalent of the reference's recursive Redis shredding
(PlanService.java:26–85): where the reference writes one KV pair per nested
object plus string-encoded relation keys, we produce one DataFrame per
objectType plus an ``edges`` relation — the adjacency list as a real table
(columns and types in :data:`TABLE_SCHEMAS`, the store's one format).

Each table is one ``selectExpr`` over the doc column, its SQL text built
once at import: ``plans`` is a plain projection, and each other table is
one ``inline`` generator over an array built per document (its cost
shares and edges ``concat`` the plan-level object onto a ``transform`` of
linkedPlanServices). So every table reads each document once, with no
union and no shuffle, and a call costs five plans, not hundreds of py4j
column calls.

Array order (the reference's ``Arrays.toString`` rendering,
PlanService.java:66) is carried as the explicit ``ord`` column, the
element's 0-based array position, so reassembly is deterministic through
any shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdataindexing_spark.streaming.core import read_partials


@dataclass
class ShreddedTables:
    """One DataFrame per table of the store, in :data:`TABLE_NAMES` order."""

    plans: DataFrame
    plan_services: DataFrame
    services: DataFrame
    member_cost_shares: DataFrame
    edges: DataFrame

    def as_dict(self) -> dict[str, DataFrame]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


TABLE_NAMES = tuple(f.name for f in fields(ShreddedTables))


def _columns(**types: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(name, t) for name, t in types.items()])


_S = T.StringType()
# The store's on-disk format: the column names and types :func:`shred`
# produces for each table, so the reader needs no schema inference.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "plans": _columns(object_id=_S, org=_S, plan_type=_S, creation_date=_S),
    "plan_services": _columns(object_id=_S, org=_S),
    "services": _columns(object_id=_S, org=_S, name=_S),
    "member_cost_shares": _columns(
        object_id=_S, org=_S, deductible=T.LongType(), copay=T.LongType()
    ),
    "edges": _columns(
        parent_type=_S, parent_id=_S, field=_S, ord=T.IntegerType(), child_type=_S, child_id=_S
    ),
}


# linkedPlanServices elements ``ps`` with their 0-based array position ``i``
# (the ordinal posexplode gives); a NULL or absent array has none
_PS = "transform(coalesce(d.linkedPlanServices, array()), (ps, i) -> {})"
_COST_SHARE = (
    "named_struct('object_id', {0}.objectId, 'org', {0}._org, "
    "'deductible', {0}.deductible, 'copay', {0}.copay)"
)
_EDGE = (
    "named_struct('parent_type', '{}', 'parent_id', {}, 'field', '{}', 'ord', {}, "
    "'child_type', '{}', 'child_id', {})"
)
# a row per struct of the array whose key field is not NULL: a sparse patch
# may omit a child object, and a NULL key is "field not present", not a row
_ROWS = "inline(filter({}, r -> r.{} IS NOT NULL))"

# each table's selectExpr over the doc struct ``d``
_TABLE_SQL = {
    "plans": ["d.objectId AS object_id", "d._org AS org",
              "d.planType AS plan_type", "d.creationDate AS creation_date"],
    "plan_services": [
        _ROWS.format(
            _PS.format("named_struct('object_id', ps.objectId, 'org', ps._org)"), "object_id"
        )
    ],
    "services": [
        _ROWS.format(
            _PS.format(
                "named_struct('object_id', ps.linkedService.objectId, "
                "'org', ps.linkedService._org, 'name', ps.linkedService.name)"
            ),
            "object_id",
        )
    ],
    "member_cost_shares": [
        _ROWS.format(
            f"concat(array({_COST_SHARE.format('d.planCostShares')}), "
            f"{_PS.format(_COST_SHARE.format('ps.planserviceCostShares'))})",
            "object_id",
        )
    ],
    "edges": [
        _ROWS.format(
            "concat(array({}), flatten({}))".format(
                _EDGE.format("plan", "d.objectId", "planCostShares", 0,
                             "membercostshare", "d.planCostShares.objectId"),
                _PS.format("array({}, {}, {})".format(
                    _EDGE.format("plan", "d.objectId", "linkedPlanServices", "i",
                                 "planservice", "ps.objectId"),
                    _EDGE.format("planservice", "ps.objectId", "linkedService", 0,
                                 "service", "ps.linkedService.objectId"),
                    _EDGE.format("planservice", "ps.objectId", "planserviceCostShares", 0,
                                 "membercostshare", "ps.planserviceCostShares.objectId"),
                )),
            ),
            "child_id",
        )
    ],
}


def shred(docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Normalize parsed plan docs (struct column) into per-type tables."""
    d = docs.select(F.col(doc_col).alias("d"))
    return ShreddedTables(**{name: d.selectExpr(*sql) for name, sql in _TABLE_SQL.items()})


def planned_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (``optimizedPlan.stats.sizeInBytes``),
    the number the planner sizes broadcasts by. An unknown estimate is
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``n = max(1, ceil(planned_bytes / target))``
    partitions, where the target is ``spark.sql.files.maxPartitionBytes``,
    the read-split size, so a written file holds about one later read split
    at most (as far as Catalyst's estimate is right). ``coalesce`` never
    raises the partition count, so this never writes more files than the
    plan has partitions, and an unknown estimate leaves the plan as it
    is."""
    target = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = max(1, -(-planned_bytes(df) // target))
    return df.coalesce(min(n, 2**31 - 1))


def write_sized(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` as Parquet, in :func:`sized` files.
    Every document-table write (store, quarantine, stream partials) goes
    through here."""
    sized(df).write.mode("overwrite").parquet(path)


def table_path(out_dir: str, name: str) -> str:
    """Where the store at ``out_dir`` keeps table ``name``: every Parquet
    file beneath ``<out_dir>/<name>.parquet``, at any depth."""
    return f"{out_dir}/{name}.parquet"


def write_tables(tables: ShreddedTables, out_dir: str) -> None:
    """Materialize the shredded store as Parquet (the Redis replacement),
    ``<out_dir>/<table>.parquet`` per table.

    Each table is written in ``max(1, ceil(planned_bytes /
    spark.sql.files.maxPartitionBytes))`` files at most (:func:`sized`), so
    the file count follows the table's estimated bytes, not the number of
    unions and shuffles its plan went through; at test and bench scale
    every table is one file written by one task.
    """
    for name, df in tables.as_dict().items():
        write_sized(df, table_path(out_dir, name))


def read_tables(spark, out_dir: str) -> ShreddedTables:
    """The one store reader: every Parquet file under each
    :func:`table_path`, recursively, so a batch write's files and each
    stream micro-batch's ``batch=<id>`` partial beneath them read as one
    table. The declared :data:`TABLE_SCHEMAS` are given to the reader,
    so opening a store starts no Spark job (no footer schema inference)."""
    return ShreddedTables(
        **{
            name: read_partials(spark, table_path(out_dir, name), schema)
            for name, schema in TABLE_SCHEMAS.items()
        }
    )
