"""Physical table layout: partitioned writes and bucketed co-located joins.

The two storage levers that matter most at 100 TB:

- **Partition pruning**: fact tables written ``partitionBy`` a coarse key
  (here ``o_year``) let any filtered query skip whole directories — the
  scan's ``PartitionFilters`` line is the proof (SURVEY.md §4.3).
- **Bucketing**: two tables bucketed + sorted by the join key co-locate
  matching rows at WRITE time, so the join plans as a sort-merge join with
  NO Exchange on either side — the shuffle is paid once at layout time and
  amortized over every subsequent join (Spark's equivalent of the
  co-partitioned storage the reference can't express at all).

Both are asserted by plan tests (tests/test_layout.py): pruning must show
up in PartitionFilters, and the bucketed join plan must contain no
Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.sources.store_dirs import SessionParquetStore
from bigdataindexing_spark.tables import table

N_BUCKETS = 8


def write_partitioned_orders(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """orders partitioned by order year — date-range queries prune dirs."""
    (
        table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out_dir)
    )


def read_orders_year(spark: SparkSession, out_dir: str, year: int) -> DataFrame:
    return spark.read.parquet(out_dir).filter(F.col("o_year") == year)


def write_bucketed(spark: SparkSession, sf_dir: str, db: str = "bdi") -> None:
    """orders + lineitem bucketed AND sorted by the join key.

    Uses the session catalog (saveAsTable is required for bucket metadata);
    idempotent per session."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}_bucketed")
        # the in-memory catalog forgets tables between sessions but their
        # directories survive; clear them or saveAsTable refuses the location
        shutil.rmtree(
            f"{warehouse}/{db}.db/{name}_bucketed", ignore_errors=True
        )
        (
            table(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(f"{db}.{name}_bucketed")
        )


def bucketed_join(spark: SparkSession, db: str = "bdi") -> DataFrame:
    """orders ⋈ lineitem on the bucket key: no Exchange on either side."""
    # the MERGE hint models real scale: at 100 TB neither side broadcasts,
    # so the plan of record is the sort-merge join — which the bucket+sort
    # layout serves with no Exchange (and no Sort) on either side. At test
    # scale AQE would otherwise broadcast the tiny orders side.
    o = spark.table(f"{db}.orders_bucketed").hint("merge")
    l = spark.table(f"{db}.lineitem_bucketed")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


# applicationId -> sf_dir the bucketed tables currently hold: the catalog
# names are application-global, so switching sf_dir mid-session must
# rewrite them (a stale-layout read would silently serve the wrong SF).
# Not a SessionParquetStore: saveAsTable names are per application, not
# per sf_dir, so two sf_dirs cannot each keep a built copy.
_BUCKETED_SF: dict[str, str] = {}


_PARTITIONED_ORDERS = SessionParquetStore(
    "partitioned_orders", write_partitioned_orders
)


def _register() -> None:
    from bigdataindexing_spark.registry import register
    from bigdataindexing_spark.tables import bounded_sort

    @register(
        "q120_bucketed_join",
        oracle=(
            "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt, "
            "ROUND(SUM(l_quantity), 4) AS sum_qty "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        tags=("source", "layout", "join", "serve"),
        doc="Co-located bucketed join: orders and lineitem bucketed AND "
        "sorted by the join key at WRITE time (saveAsTable bucket "
        "metadata), so the sort-merge join plans with NO Exchange and "
        "NO Sort on either side — the shuffle is paid once at layout "
        "time and amortized over every subsequent join, the single "
        "biggest join lever at 100 TB (where neither fact side "
        "broadcasts; the MERGE hint models that, since at test scale "
        "AQE would broadcast the tiny orders side). The zero-exchange "
        "plan is pinned by tests/test_layout.py AND the serve golden; "
        "the oracle is the plain unbucketed join — bucketing is pure "
        "physical layout, results identical.",
    )
    def q120_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        app = spark.sparkContext.applicationId
        # the catalog is application-shared (sibling sessions see the
        # same external catalog), so build-once is keyed like the stores
        # require BOTH bucketed tables: a failure between the two
        # saveAsTable calls (or an external drop of one) must trigger a
        # rebuild, not a table-not-found on the join (ADVICE r7)
        if _BUCKETED_SF.get(app) != sf_dir or not all(
            spark.catalog.tableExists(f"bdi.{t}_bucketed")
            for t in ("orders", "lineitem")
        ):
            write_bucketed(spark, sf_dir)
            _BUCKETED_SF[app] = sf_dir
        return bounded_sort(bucketed_join(spark), "o_orderpriority")

    @register(
        "q121_partition_pruning",
        oracle=(
            "SELECT strftime(o_orderdate, '%Y-%m') AS month, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue "
            "FROM orders WHERE CAST(strftime(o_orderdate, '%Y') AS INT) "
            "= 1996 GROUP BY month ORDER BY month"
        ),
        tags=("source", "layout", "serve"),
        doc="Hive-style partition pruning, driver-evidenced: orders "
        "written partitionBy(o_year) once per session, then a one-year "
        "query plans with PartitionFilters — Spark lists and reads ONLY "
        "the matching directory, the coarse-grained skip that stacks "
        "under file-level min/max (X15) and Z-order (X18); at 100 TB "
        "date-partitioned facts make every time-bounded query's scan "
        "proportional to its window, not the table. Pruning itself is "
        "pinned by tests/test_layout.py (PartitionFilters + scanned-"
        "file count); this query evidences the VALUES through the "
        "pruned path against the plain full-scan oracle.",
    )
    def q121_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = (
            read_orders_year(spark, _PARTITIONED_ORDERS.dir(spark, sf_dir), 1996)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        return bounded_sort(out, "month")

    @register(
        "q122_dpp_star_join",
        oracle=(
            "SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS y, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue "
            "FROM orders WHERE CAST(strftime(o_orderdate, '%Y') AS INT) "
            "% 2 = 0 GROUP BY y ORDER BY y"
        ),
        tags=("source", "layout", "join", "serve"),
        doc="Dynamic partition pruning: the fact side (orders partitioned "
        "by o_year) joins a calendar dimension filtered on an ATTRIBUTE "
        "(is_even_year) — the partition predicate is unknowable at plan "
        "time, so Catalyst injects a dynamicpruning subquery that reuses "
        "the dimension's broadcast to prune fact partitions AT RUNTIME "
        "(pytest-pinned: 'dynamicpruning' appears in the scan's "
        "PartitionFilters). This is the star-schema scan killer at "
        "100 TB: a date-dim filter like 'fiscal Q4' touches only the "
        "matching fact partitions without the query ever naming them; "
        "static pruning (q121) can't express it because the predicate "
        "lives on the dimension. Values gate against the predicate-"
        "inlined oracle.",
    )
    def q122_dpp_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        fact = _PARTITIONED_ORDERS.df(spark, sf_dir)
        years = (
            fact.select(F.col("o_year").alias("y"))
            .distinct()
            .withColumn("is_even_year", F.col("y") % 2 == 0)
        )
        out = (
            fact.join(
                F.broadcast(years),
                (fact["o_year"] == years["y"]) & years["is_even_year"],
            )
            .groupBy(F.col("y").cast("int").alias("y"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        return bounded_sort(out, "y")


_register()
