"""Array / JSON / time-bucket operators (SURVEY.md §2.7 F4,F5,F8; §2.8 ST2).

These cover the reference's semi-structured surface — JSON parse/serialize
(PlanController.java:85, PlanService.java:81,101) and array
render/parse/explode (PlanService.java:66, 274–284) — as built-in Spark
expressions (no UDFs; everything stays in whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.tables import bounded_sort, spread, table


@register(
    "q21_array_explode",
    oracle="SELECT label, COUNT(*) AS cnt FROM "
    "(SELECT label, UNNEST(embedding) FROM embeddings) GROUP BY label "
    "ORDER BY label",
    tags=("array",),
    doc="Array explode ≡ the reference's array-string parse + per-element "
    "recursion (PlanService.java:274–284), set-oriented.",
)
def q21_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(table(spark, sf_dir, "embeddings"))
        .select("label", F.explode("embedding").alias("v"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: bounded_sort(d, "label"))
    )


@register(
    "q22_json_extract",
    oracle="SELECT event_id FROM events "
    "WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) BETWEEN 10 AND 20 "
    "ORDER BY event_id",
    tags=("json",),
    doc="JSON field extraction over the `props` column (from_json ≡ duckdb "
    "json_extract_string). The document is parsed ONCE per row via "
    "from_json to a typed map — get_json_object re-tokenizes the whole "
    "JSON text per path reference, and a BETWEEN references the path "
    "twice (measured ~2.4x slower at sf0.1). The repartition before the "
    "global sort is a sampling barrier: range-sort preparation samples "
    "its child to pick partition bounds, and without an exchange in "
    "between that sampling pass re-runs the parse+filter stage a second "
    "time; shuffling the small filtered projection instead makes the "
    "sampler re-read shuffle bytes.",
)
def q22_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.from_json("props", "map<string,int>")["k"]
    return (
        table(spark, sf_dir, "events")
        .filter(k.between(10, 20))
        .select("event_id")
        .repartition("event_id")
        .orderBy("event_id")
    )


@register(
    "q23_tumbling_window",
    oracle="SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value FROM events "
    "GROUP BY w, event_type ORDER BY w, event_type",
    tags=("window-agg", "streaming-batch-equivalent"),
    doc="Tumbling 1-hour window aggregation — the deterministic batch "
    "equivalent of the streaming ST2 operator (same groupBy(window(...)) "
    "plan shape under Structured Streaming).",
)
def q23_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(table(spark, sf_dir, "events"))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .transform(lambda d: bounded_sort(d, "w", "event_type"))
    )


@register(
    "q27_map_functions",
    oracle="SELECT event_type, COUNT(DISTINCT CAST(json_extract_string(props, '$.k') "
    "AS INTEGER)) AS distinct_k FROM events GROUP BY event_type ORDER BY event_type",
    tags=("json", "map"),
    doc="props parsed to a map (from_json MapType) then aggregated — the "
    "F8 map-function surface.",
)
def q27_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(table(spark, sf_dir, "events")).withColumn(
        "m", F.from_json("props", "map<string,int>")
    )
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct(F.col("m")["k"]).alias("distinct_k"))
        .transform(lambda d: bounded_sort(d, "event_type"))
    )


@register(
    "q58_variant_extract",
    oracle="SELECT event_type, COUNT(*) AS n, "
    "((2 * SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) * 10000 "
    "+ COUNT(*)) // (2 * COUNT(*))) / 1e4 AS avg_k "
    "FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 "
    "GROUP BY event_type ORDER BY event_type",
    tags=("json", "variant"),
    doc="Semi-structured access through the VARIANT type (Spark 4 "
    "parse_json/variant_get): the binary-encoded variant is the scale "
    "path for schemaless JSON — parsed once, fields extracted with typed "
    "paths, no per-query string re-parse of the whole document (unlike "
    "get_json_object, which re-tokenizes the JSON text per call). The "
    "reference stores documents as raw JSON strings in Redis "
    "(PlanService.java:81,101); variant is the columnar analogue.",
)
def q58_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(table(spark, sf_dir, "events")).withColumn(
        "v", F.parse_json("props")
    )
    k = F.expr("variant_get(v, '$.k', 'int')")
    return (
        ev.filter(k > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("_s_k"),
        )
        .withColumn(
            "avg_k", F.expr("(2 * _s_k * 10000 + n) DIV (2 * n) / 1e4")
        )
        .select("event_type", "n", "avg_k")
        .transform(lambda d: bounded_sort(d, "event_type"))
    )


@register(
    "q92_gap_fill_ffill",
    oracle="WITH pts AS (SELECT user_id, date_trunc('hour', ts) AS h, "
    "((2 * CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) * 100 "
    "+ COUNT(*)) // (2 * COUNT(*))) / 1e4 AS v FROM events "
    "WHERE event_type = 'purchase' AND user_id <= 20 GROUP BY 1, 2), "
    "span AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM pts GROUP BY 1), "
    "grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) "
    "AS h FROM span), "
    "j AS (SELECT g.user_id, g.h, p.v FROM grid g "
    "LEFT JOIN pts p USING (user_id, h)) "
    "SELECT user_id, h, last_value(v IGNORE NULLS) OVER ("
    "PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING) AS v_ff "
    "FROM j ORDER BY user_id, h",
    tags=("window-agg", "timeseries"),
    doc="Time-series gap filling with forward fill: resample each user's "
    "purchase events to an hourly grid (sequence() between the user's "
    "first and last active hour, exploded), left-join the observed "
    "hourly averages, and carry the last observation forward with "
    "last(ignorenulls) over an ordered per-user window. Every stage "
    "keys on user_id — the grid explode is per-user-bounded (max "
    "span/granularity rows), the join and the fill window reuse the "
    "same user partitioning, and nothing is global: the standard "
    "densify-then-fill shape for feature pipelines at 100 TB. The "
    "observed average is rounded BEFORE the fill so the carried value "
    "is bit-identical across engines.",
)
def q92_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import pin_view, table_view

    # pinned: both the grid (min/max per user) and the left join consume
    # pts, and Catalyst does not CSE across DataFrame branches — without
    # the persist the events scan + hourly aggregate run twice. The fill
    # dataflow is one SQL statement over a view of the pinned relation.
    ev = table_view(spark, sf_dir, "events")
    view = pin_view(
        spark,
        sf_dir,
        "q92_pts",
        spark.sql(
            f"SELECT user_id, date_trunc('hour', ts) AS h, "
            f"(2 * CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) "
            f"* 100 + COUNT(*)) DIV (2 * COUNT(*)) / 1e4 AS v FROM {ev} "
            f"WHERE event_type = 'purchase' AND user_id <= 20 "
            f"GROUP BY user_id, date_trunc('hour', ts)"
        ),
    )
    return spark.sql(f"""
        WITH grid AS (
          SELECT user_id,
                 explode(sequence(min_h, max_h, INTERVAL 1 HOUR)) AS h
          FROM (SELECT user_id, MIN(h) AS min_h, MAX(h) AS max_h
                FROM {view} GROUP BY user_id)
        )
        SELECT g.user_id, g.h,
               last(p.v, true) OVER (PARTITION BY g.user_id ORDER BY g.h
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS v_ff
        FROM grid g LEFT JOIN {view} p
          ON g.user_id = p.user_id AND g.h = p.h
        ORDER BY g.user_id, g.h
    """)
