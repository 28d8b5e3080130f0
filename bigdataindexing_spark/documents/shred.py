"""Shred (normalize) hierarchical plan documents into flat relations.

Spark-native equivalent of the reference's recursive Redis shredding
(PlanService.java:26–85): where the reference writes one KV pair per nested
object plus string-encoded relation keys, we produce one DataFrame per
objectType plus an ``edges`` relation — the adjacency list as a real table
(columns and types in :data:`TABLE_SCHEMAS`, the store's one format).

Array order (the reference's ``Arrays.toString`` rendering,
PlanService.java:66) is carried as the explicit ``ord`` column from
``posexplode`` so reassembly is deterministic through any shuffle.

At scale: shredding is a handful of narrow projections + one posexplode —
no shuffle at all until the per-type writes; each output table can be
written partitioned/bucketed by object_id.
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


def _cost_share_rows(col: F.Column) -> list[F.Column]:
    return [
        col.getField("objectId").alias("object_id"),
        col.getField("_org").alias("org"),
        col.getField("deductible").alias("deductible"),
        col.getField("copay").alias("copay"),
    ]


def shred(docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Normalize parsed plan docs (struct column) into per-type tables."""
    d = F.col(doc_col)
    plans = docs.select(
        d.getField("objectId").alias("object_id"),
        d.getField("_org").alias("org"),
        d.getField("planType").alias("plan_type"),
        d.getField("creationDate").alias("creation_date"),
    )

    pcs = docs.select(d.getField("planCostShares").alias("cs"))
    # linkedPlanServices elements with their ordinal
    lps = docs.select(
        d.getField("objectId").alias("plan_id"),
        F.posexplode_outer(d.getField("linkedPlanServices")).alias("ord", "ps"),
    ).filter(F.col("ps").isNotNull())

    plan_services = lps.select(
        F.col("ps").getField("objectId").alias("object_id"),
        F.col("ps").getField("_org").alias("org"),
    ).filter(F.col("object_id").isNotNull())
    services = lps.select(
        F.col("ps").getField("linkedService").getField("objectId").alias("object_id"),
        F.col("ps").getField("linkedService").getField("_org").alias("org"),
        F.col("ps").getField("linkedService").getField("name").alias("name"),
    ).filter(F.col("object_id").isNotNull())
    pscs = lps.select(F.col("ps").getField("planserviceCostShares").alias("cs"))
    member_cost_shares = (
        pcs.select(*_cost_share_rows(F.col("cs")))
        .unionByName(pscs.select(*_cost_share_rows(F.col("cs"))))
        .filter(F.col("object_id").isNotNull())
    )

    def edge(parent_type, parent_id, field, ord_col, child_type, child_id):
        return [
            F.lit(parent_type).alias("parent_type"),
            parent_id.alias("parent_id"),
            F.lit(field).alias("field"),
            ord_col.alias("ord"),
            F.lit(child_type).alias("child_type"),
            child_id.alias("child_id"),
        ]

    e1 = docs.select(
        *edge(
            "plan",
            d.getField("objectId"),
            "planCostShares",
            F.lit(0),
            "membercostshare",
            d.getField("planCostShares").getField("objectId"),
        )
    )
    e2 = lps.select(
        *edge(
            "plan",
            F.col("plan_id"),
            "linkedPlanServices",
            F.col("ord"),
            "planservice",
            F.col("ps").getField("objectId"),
        )
    )
    e3 = lps.select(
        *edge(
            "planservice",
            F.col("ps").getField("objectId"),
            "linkedService",
            F.lit(0),
            "service",
            F.col("ps").getField("linkedService").getField("objectId"),
        )
    )
    e4 = lps.select(
        *edge(
            "planservice",
            F.col("ps").getField("objectId"),
            "planserviceCostShares",
            F.lit(0),
            "membercostshare",
            F.col("ps").getField("planserviceCostShares").getField("objectId"),
        )
    )
    # sparse patch documents may omit child objects entirely — a null
    # child_id is "field not present", not an edge
    edges = (
        e1.unionByName(e2)
        .unionByName(e3)
        .unionByName(e4)
        .filter(F.col("child_id").isNotNull())
    )
    return ShreddedTables(plans, plan_services, services, member_cost_shares, edges)


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
