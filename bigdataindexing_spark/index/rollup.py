"""Hypertable-style continuous aggregate: time-bucketed rollup tables.

The materialized-view pattern a 100 TB event store lives on: an hourly
rollup table is maintained once (batch here; incrementally via the
streaming index-maintenance pattern in production) and dashboards/serving
queries read the rollup — touching hours×types rows instead of raw events.
Coarser grains (daily) re-aggregate the hourly rollup without ever going
back to the raw table, which is what the additivity of sum/count buys.

The serve-path queries carry duckdb oracles phrased against the RAW events
table, so the rollup's correctness (not just its shape) is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore, write_store
from bigdataindexing_spark.tables import bounded_sort, spread, table


def build_hourly_rollup(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """events → hourly (bucket, event_type) rollup, sorted on write for
    row-group skipping on the serve path."""
    write_store(
        spread(table(spark, sf_dir, "events"))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # exact decimal partials: order-independent, and the serve
            # path's re-aggregation stays exact (r08 decimal sweep)
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        ),
        out_dir,
        "bucket",
        "event_type",
    )


# The materialized view is built ONCE per session+source and every
# serve-path invocation reads the existing parquet — rebuilding inside the
# query (as this did before) benched the build, not the serve, and
# contradicted the operator's whole premise ("raw events ... never at
# serve time").
_ROLLUP = SessionParquetStore("rollup_hourly", build_hourly_rollup)


@register(
    "q44_rollup_serve",
    oracle="SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value FROM events "
    "GROUP BY day, event_type ORDER BY day, event_type",
    tags=("rollup", "index", "serve"),
    doc="Continuous-aggregate serve path: the DAILY result is computed by "
    "re-aggregating the materialized HOURLY rollup (sum of sums, sum of "
    "counts) — the raw events table is read once at build time, never at "
    "serve time (the rollup materializes once per session via "
    "the rollup_hourly store). Oracle: the same daily aggregate straight off "
    "raw events.",
)
def q44_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _ROLLUP.df(spark, sf_dir)
    return (
        hourly.groupBy(
            F.to_date("bucket").alias("day"), "event_type"
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .transform(lambda d: bounded_sort(d, "day", "event_type"))
    )


@register(
    "q102_rollup_merge",
    oracle="SELECT date_trunc('hour', ts) AS bucket, event_type, "
    "COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value FROM events "
    "GROUP BY bucket, event_type ORDER BY bucket, event_type",
    tags=("rollup", "incremental", "serve"),
    doc="Incremental rollup maintenance (the merge step of a continuous "
    "aggregate): a base rollup built before a batch of late-arriving "
    "events (every 20th event_id held out as the 'late' delta) is "
    "combined with the delta's own hourly partial aggregate by summing "
    "per-bucket counts and sums — additivity means the merge NEVER "
    "re-reads raw history, which is the whole economics of maintaining "
    "a 100 TB event store's rollups (same foldLeft the streaming "
    "index-maintenance path applies per micro-batch). The oracle is the "
    "hourly aggregate over ALL events: the merged partials must be "
    "indistinguishable from a from-scratch build.",
)
def q102_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    ev = table_view(spark, sf_dir, "events")
    merged = spark.sql(f"""
        WITH base AS (
          SELECT date_trunc('hour', ts) AS bucket, event_type,
                 COUNT(1) AS cnt, SUM(CAST(value AS DECIMAL(12,2))) AS sv
          FROM {ev} WHERE event_id % 20 != 0 GROUP BY bucket, event_type
        ),
        delta AS (
          SELECT date_trunc('hour', ts) AS bucket, event_type,
                 COUNT(1) AS cnt, SUM(CAST(value AS DECIMAL(12,2))) AS sv
          FROM {ev} WHERE event_id % 20 = 0 GROUP BY bucket, event_type
        )
        SELECT bucket, event_type, SUM(cnt) AS cnt,
               CAST(SUM(sv) AS DOUBLE) AS sum_value
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        GROUP BY bucket, event_type
    """)
    return bounded_sort(merged, "bucket", "event_type")
