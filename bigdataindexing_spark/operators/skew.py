"""Skew-mitigation operators: salting for hot keys.

The ``events`` table has only a handful of ``event_type`` values, so a
plain groupBy hashes ~all rows to a few reducers — the classic hot-key
shuffle. Salting splits each hot key into ``N_SALTS`` sub-keys for the
first (partial) aggregation and folds the salts in a second, tiny
aggregation. At 100 TB this is the difference between one straggler task
holding a stage and an even spread; AQE's skew-join splitting covers the
join case, salting covers aggregation.

The oracle is the plain GROUP BY — salting must be a pure execution-plan
change with identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore, write_store
from bigdataindexing_spark.tables import bounded_sort, spread, table

N_SALTS = 16

def salted_agg(
    df: DataFrame, key: str, agg_col: str, n_salts: int = N_SALTS
) -> DataFrame:
    """Two-stage skew-safe aggregation: (key, salt) partials, then fold.

    The partial sums aggregate INTEGER ten-thousandths (``agg_col`` is
    already on a 4-decimal grid), not doubles: a two-stage float fold
    adds in a different order than the oracle's single GROUP BY, and
    float addition is not associative — exact integer partials make the
    result independent of the fold shape at any scale."""
    cents = F.round(F.col(agg_col) * 10_000, 0).cast("long")
    salted = df.withColumn(
        "salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "salt").agg(
        F.count(F.lit(1)).alias("pc"), F.sum(cents).alias("ps")
    )
    return partial.groupBy(key).agg(
        F.sum("pc").alias("cnt"),
        F.round(F.sum("ps") / 10_000.0, 2).alias("sum_value"),
    )


@register(
    "q39_salted_agg",
    oracle="SELECT event_type, COUNT(*) AS cnt, "
    "ROUND(SUM(CAST(ROUND(ROUND(value, 4) * 10000, 0) AS BIGINT)) / 10000.0, 2) "
    "AS sum_value FROM events GROUP BY event_type ORDER BY event_type",
    tags=("agg", "skew"),
    doc="Skew-salted aggregation over the hot event_type key (16 salts, "
    "two-stage fold). Must equal the plain GROUP BY exactly — salting is "
    "an execution-plan change only, so both sides sum exact integer "
    "ten-thousandths of the 4-decimal-rounded value (float-associativity-"
    "free on any engine, any partitioning).",
)
def q39_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(table(spark, sf_dir, "events")).withColumn(
        "value", F.round("value", 4)
    )
    return bounded_sort(salted_agg(ev, "event_type", "value"), "event_type")


# A key is "hot" when its estimated row count exceeds this many rows —
# roughly the point where one key's rows outgrow a healthy shuffle
# partition and a single reducer becomes the stage straggler.
HOT_KEY_ROWS = 100_000
HOT_SAMPLE_FRACTION = 0.05


def _hot_key_probe(big: DataFrame, big_key: str, hot_key_rows: int) -> DataFrame:
    """The sampled hot-key probe: ``__hk`` for each key whose estimated
    row count exceeds ``hot_key_rows``. The result is bounded by
    construction — at most sample_size / threshold keys — so holding it
    driver-side is the same contract as AQE's per-partition skew
    statistics."""
    return (
        big.select(F.col(big_key).alias("__hk"))
        .sample(False, HOT_SAMPLE_FRACTION, seed=7)
        .groupBy("__hk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= int(hot_key_rows * HOT_SAMPLE_FRACTION))
        .select("__hk")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = N_SALTS,
    hot_key_rows: int = HOT_KEY_ROWS,
) -> DataFrame:
    """Skew-safe equi-join that salts ONLY observed-hot keys.

    A sampled count of the big side's key column (column-pruned scan,
    5% sample — at 100 TB you'd sample row groups the same way) finds
    keys whose estimated cardinality exceeds ``hot_key_rows``; the join
    itself is :func:`_salt_hot_keys`."""
    hot = _hot_key_probe(big, big_key, hot_key_rows).collect()
    return _salt_hot_keys(
        big, small, big_key, small_key, [r["__hk"] for r in hot], n_salts
    )


def _salt_hot_keys(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    hot_list: list,
    n_salts: int,
) -> DataFrame:
    """The join given the big side's hot keys: those keys fan out to
    ``n_salts`` sub-keys and the small side replicates per-salt for them
    alone; every other key joins with salt 0 and a single small-side row.
    With no skew the hot list is empty and the plan degenerates to the
    plain join — blanket 16x replication of the small side (the previous
    form) burned n_salts-fold shuffle volume demonstrating a pathology
    the data may not have. Each big row carries exactly one salt and
    matches exactly one replica — semantics identical to the plain join."""
    if not hot_list:
        # no observed skew: hand Catalyst the PLAIN join (it will
        # broadcast a small enough side — a broadcast join has no skew
        # problem at all). The bounded probe is data-dependent
        # planning, same idea as AQE's runtime join demotion.
        return big.join(small, F.col(big_key) == F.col(small_key))
    from pyspark.sql import types as T

    hot = big.sparkSession.createDataFrame(
        [(k, n_salts) for k in hot_list],
        T.StructType(
            [
                T.StructField("__hk", big.schema[big_key].dataType),
                T.StructField("__n_salt", T.IntegerType()),
            ]
        ),
    )
    b = (
        big.join(F.broadcast(hot), F.col(big_key) == F.col("__hk"), "left")
        .withColumn(
            "__salt",
            F.pmod(
                F.hash(F.monotonically_increasing_id()),
                F.coalesce(F.col("__n_salt"), F.lit(1)),
            ),
        )
        .drop("__hk", "__n_salt")
    )
    s = (
        small.join(F.broadcast(hot), F.col(small_key) == F.col("__hk"), "left")
        .withColumn(
            "__salt",
            F.explode(
                F.sequence(
                    F.lit(0), F.coalesce(F.col("__n_salt"), F.lit(1)) - 1
                )
            ),
        )
        .drop("__hk", "__n_salt")
    )
    return b.join(
        s, (F.col(big_key) == F.col(small_key)) & (b.__salt == s.__salt)
    ).drop("__salt")


def _build_hot_keys(spark: SparkSession, sf_dir: str, path: str) -> list:
    """Write lineitem's hot ``l_orderkey`` values; return them as a list."""
    write_store(
        _hot_key_probe(table(spark, sf_dir, "lineitem"), "l_orderkey", HOT_KEY_ROWS),
        path,
        "__hk",
    )
    return [r["__hk"] for r in spark.read.parquet(path).collect()]


# Skew statistics are a TABLE property, not a query property: a catalog
# serves them from analyze-time stats rather than re-sampling per query,
# so q96's probe of lineitem's join key is a session store and every
# later salted join plans from it.
_LINEITEM_HOT_KEYS = SessionParquetStore("hot_keys", _build_hot_keys)


@register(
    "q96_salted_join",
    oracle="SELECT o_orderpriority, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderstatus = 'F' "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    tags=("join", "skew"),
    doc="Skew-salted replicate join gated on OBSERVED hot keys: a 5% "
    "sampled count of the big side's join key finds keys estimated "
    "above 100k rows; only those fan out to 16 (key, salt) sub-keys "
    "with per-salt small-side replicas — everything else joins plain. "
    "The manual form of what AQE skew-join splitting does adaptively "
    "(session.py enables that too); kept explicit because AQE only "
    "splits AFTER a stage materializes skewed partitions, while "
    "pre-salting avoids building them at all. On unskewed data the hot "
    "set is empty and the cost is the plain join plus one sampled "
    "key-column scan. Oracle: the plain join + aggregate — salting "
    "must not change results.",
)
def q96_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(table(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("rev"),
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        _salt_hot_keys(
            li,
            orders,
            "l_orderkey",
            "o_orderkey",
            _LINEITEM_HOT_KEYS.meta(spark, sf_dir),
            N_SALTS,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .transform(lambda d: bounded_sort(d, "o_orderpriority"))
    )
