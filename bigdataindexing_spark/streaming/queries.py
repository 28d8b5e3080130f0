"""Declared streaming queries ST1/ST2/ST3/ST4/ST6 (SURVEY.md §2.8).

Each runs a REAL Structured Streaming query (file source, availableNow
trigger, memory/foreachBatch sink) and returns the drained result as a batch
DataFrame, so the duckdb oracle can hash-match the end state. ST5
(watermark late-data drop) needs controlled multi-batch input and lives in
``tests/test_streaming.py`` instead.

The streaming plans are the same groupBy(window(...)) shapes Spark uses in
batch, so correctness here transfers directly to a long-running cluster
deployment; the availableNow trigger is just the deterministic replay mode.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.streaming.core import (
    run_available_now,
    run_foreach_batch,
    stream_table,
)
from bigdataindexing_spark.streaming.index_maintenance import streaming_index_build


@register(
    "st1_stream_index_build",
    oracle="WITH u AS (SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) "
    "AS token FROM documents) "
    "SELECT token, COUNT(*) AS df FROM u WHERE token <> '' GROUP BY token "
    "ORDER BY df DESC, token LIMIT 10",
    tags=("streaming", "index"),
    bench=False,
    doc="ST1: change-capture → incremental index maintenance via foreachBatch "
    "(batchId-keyed idempotent partial writes, merge-on-read), replacing the "
    "reference's RabbitMQ→ES pipeline (IndexingListener.java:115–125). The "
    "stream-built postings must equal the batch-built/scan formulation.",
)
def st1_stream_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = tempfile.mkdtemp(prefix="stream_index_")
    postings = streaming_index_build(spark, sf_dir, index_dir)
    return postings.orderBy(F.col("df").desc(), "token").limit(10)


@register(
    "st2_stream_tumbling",
    oracle="SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS cnt "
    "FROM events GROUP BY w, event_type ORDER BY w, event_type",
    tags=("streaming", "window-agg"),
    bench=False,
    doc="ST2: streaming tumbling 1-hour window count over events "
    "(availableNow replay, complete mode). Must equal the batch/SQL result.",
)
def st2_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    result = run_available_now(agg, output_mode="complete")
    return result.select(
        F.col("window.start").alias("w"), "event_type", "cnt"
    ).orderBy("w", "event_type")


_SLIDING_ORACLE = (
    "SELECT make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000) AS w, "
    "event_type, COUNT(*) AS cnt "
    "FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) "
    "GROUP BY w, event_type ORDER BY w, event_type"
)


@register(
    "q28_sliding_window",
    oracle=_SLIDING_ORACLE,
    tags=("window-agg", "streaming-batch-equivalent"),
    doc="ST3 batch equivalent: sliding 1-hour window, 15-minute slide — each "
    "event lands in 4 windows (duckdb formulation enumerates the 4 aligned "
    "window starts per event).",
)
def q28_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import bounded_sort, table

    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("w"), "event_type", "cnt")
        .transform(lambda d: bounded_sort(d, "w", "event_type"))
    )


@register(
    "st3_stream_sliding",
    oracle=_SLIDING_ORACLE,
    tags=("streaming", "window-agg"),
    bench=False,
    doc="ST3: the same sliding window run as a real streaming query "
    "(availableNow replay, complete mode).",
)
def st3_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    result = run_available_now(agg, output_mode="complete")
    return result.select(
        F.col("window.start").alias("w"), "event_type", "cnt"
    ).orderBy("w", "event_type")


_SESSION_ORACLE = (
    "WITH m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
    "OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
    "SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt FROM s "
    "GROUP BY user_id, sid ORDER BY user_id, session_start"
)


@register(
    "q29_session_window",
    oracle=_SESSION_ORACLE,
    tags=("window-agg", "streaming-batch-equivalent"),
    doc="ST4 batch equivalent: 30-minute-gap session windows per user; duckdb "
    "formulation is gaps-and-islands (new session when gap >= 30min, matching "
    "Spark's half-open [start, last+gap) session extent).",
)
def q29_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table

    return (
        table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "cnt",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "st4_stream_session",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "window-agg"),
    bench=False,
    doc="ST4 as a TRUE stream (VERDICT r5 #5; previously only the batch "
    "equivalent q29 executed): 30-minute-gap session windows per user over "
    "a deterministic multi-batch replay. The events table is split into "
    "three arrival files by event_id % 3 — a time-INTERLEAVED split, so "
    "most sessions span micro-batches and the state store's session-merge "
    "path (merging adjacent partial sessions as gap-bridging events "
    "arrive) is actually exercised, not just the single-pass batch code. "
    "maxFilesPerTrigger=1 forces three micro-batches; complete mode keeps "
    "all session state live so the drained end state is the full corpus "
    "sessionization — hash-matched against the same gaps-and-islands SQL "
    "oracle as q29 (a stronger check than the st5-style contract: every "
    "session boundary, count, and start timestamp must match exactly).",
)
def st4_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from bigdataindexing_spark.streaming.core import write_arrivals
    from bigdataindexing_spark.tables import table

    events = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    src = tempfile.mkdtemp(prefix="st4_src_")
    os.makedirs(src, exist_ok=True)
    write_arrivals(
        [events.filter(F.col("event_id") % 3 == i) for i in range(3)], src
    )
    stream = (
        spark.readStream.schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = stream.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    result = run_available_now(agg, output_mode="complete")
    return result.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "cnt",
    ).orderBy("user_id", "session_start")


@register(
    "st6_stream_dedup",
    oracle="SELECT COUNT(DISTINCT event_id) AS cnt FROM events",
    tags=("streaming", "dedup"),
    bench=False,
    doc="ST6: stateful streaming dedup — withWatermark + dropDuplicates on "
    "event_id (state evicted past the watermark); the drained append-mode "
    "output must contain exactly the distinct ids.",
)
def st6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    result = run_available_now(deduped, output_mode="append")
    return result.agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "st5_watermark_drop",
    oracle=None,  # multi-batch arrival-order semantics — no single-relation SQL
    tags=("streaming", "watermark"),
    bench=False,
    doc="ST5: watermark late-data drop, registered as a first-class replay "
    "query (SURVEY.md §2.8; previously pytest-only). Arrival 1 is the whole "
    "events table in one file — processing it advances the watermark to "
    "max(ts) − 10min. Arrival 2 replays the table's EARLIEST event: its "
    "10-minute window finalized long ago, so the row must be dropped at the "
    "watermark gate — not re-open the evicted window, not double-emit it. "
    "Returns every append-mode finalized window joined against the batch "
    "per-window counts over the on-time rows only: `late_dropped_ok` is "
    "true iff the streamed count equals the batch count (the late replay "
    "contributed nothing) and each window was emitted exactly once. "
    "Arrival ordering: watermark updates lag one micro-batch, so a buffer "
    "arrival (a replay of the LATEST event — its window ends past the "
    "final watermark and can never finalize, so it perturbs no emitted "
    "count) sits between the bulk load and the late replay, exactly as the "
    "pytest e2e does. tests/test_streaming.py::test_st5_registry_contract "
    "asserts every flag and that the replayed window is present.",
)
def st5_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from bigdataindexing_spark.streaming.core import write_arrivals
    from bigdataindexing_spark.tables import table

    events = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    late = events.orderBy("ts", "event_id").limit(1)
    buffer = events.orderBy(F.desc("ts"), "event_id").limit(1)
    src = tempfile.mkdtemp(prefix="st5_src_")
    os.makedirs(src, exist_ok=True)
    write_arrivals([events, buffer, late], src)

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    streamed = run_available_now(agg, output_mode="append").select(
        F.col("window.start").alias("w"), "cnt"
    )
    expected = (
        events.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("expected_cnt"))
        .select(F.col("window.start").alias("w"), "expected_cnt")
    )
    return (
        streamed.join(expected, "w")
        .select(
            "w",
            "cnt",
            "expected_cnt",
            (F.col("cnt") == F.col("expected_cnt")).alias("late_dropped_ok"),
        )
        .orderBy("w")
    )


@register(
    "st8_stream_stream_join",
    oracle="SELECT a.event_id AS view_id, b.event_id AS purchase_id, "
    "a.user_id AS user_id "
    "FROM events a JOIN events b ON a.user_id = b.user_id "
    "AND a.event_type = 'view' AND b.event_type = 'purchase' "
    "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR "
    "ORDER BY view_id, purchase_id",
    tags=("streaming", "join"),
    bench=False,
    doc="ST8: stream-stream inner join with event-time bounds — view→"
    "purchase attribution within 1 hour, per user. Both sides carry "
    "watermarks and the join condition carries the time range, so the "
    "state store can evict buffered rows once the watermark passes "
    "view_ts + 1h — the property that makes the join runnable forever at "
    "scale. availableNow replay; the result must equal the batch interval "
    "join (the oracle).",
)
def st8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    result = run_available_now(joined, output_mode="append")
    return result.select("view_id", "purchase_id", "user_id").orderBy(
        "view_id", "purchase_id"
    )


@register(
    "st11_stream_stream_outer",
    oracle="WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts "
    "FROM events WHERE event_type = 'view'), "
    "p AS (SELECT event_id AS purchase_id, user_id AS p_user_id, "
    "ts AS purchase_ts FROM events WHERE event_type = 'purchase'), "
    "j AS (SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts "
    "FROM v LEFT JOIN p ON v.user_id = p.p_user_id "
    "AND p.purchase_ts >= v.view_ts "
    "AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR), "
    "mx AS (SELECT MAX(ts) AS m FROM events) "
    "SELECT view_id, purchase_id, user_id FROM j CROSS JOIN mx "
    "WHERE purchase_id IS NOT NULL OR view_ts <= m - INTERVAL 2 HOUR "
    "ORDER BY view_id, purchase_id",
    tags=("streaming", "join"),
    bench=False,
    doc="ST11: stream-stream LEFT OUTER interval join — st8's attribution "
    "with the unmatched views kept (the 'views that converted vs views "
    "that didn't' relation). Outer emission is WATERMARK-DRIVEN state "
    "eviction: a view's null-padded row may only emit once the watermark "
    "proves no matching purchase can still arrive — watermark = "
    "max(event ts) − 1h and the match window is view_ts + 1h, so exactly "
    "the views with view_ts <= max − 2h finalize; later views are still "
    "buffered when the availableNow replay drains. The oracle encodes "
    "that boundary precisely (batch left join + the eviction predicate), "
    "so this is a FULL-HASH check of outer stream-join semantics, not a "
    "rows-only count — matched pairs must equal the batch inner join AND "
    "the null-padded set must be exactly the watermark-finalized views. "
    "Boundary strictness: Spark's state eviction at EXACTLY max−2h could "
    "differ from the oracle's <=, but the generated corpora place no "
    "view on that instant (microsecond timestamps; nearest view is 80s "
    "off at sf0.1 — asserted by tests/test_streaming.py::"
    "test_st11_no_view_on_eviction_boundary, which fails loudly if "
    "regenerated data ever lands one there).",
)
def st11_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "left_outer",
    )
    result = run_available_now(joined, output_mode="append")
    return result.select("view_id", "purchase_id", "user_id").orderBy(
        "view_id", "purchase_id"
    )


@register(
    "st10_stream_static_enrich",
    oracle="SELECT c_mktsegment AS segment, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value "
    "FROM events JOIN customer ON c_custkey = user_id "
    "GROUP BY segment ORDER BY segment",
    tags=("streaming", "join"),
    bench=False,
    doc="ST: stream-static dimension enrichment — the standard streaming "
    "pattern the stream-stream join (st8) does NOT cover: each event "
    "micro-batch joins a STATIC dimension (customer profile keyed by "
    "user_id) via broadcast, so enrichment is stateless — no watermark, "
    "no state store, the dimension rebroadcasts per batch and can be "
    "swapped under a running query (how a 100 TB pipeline attaches "
    "slowly-changing reference data to a firehose). Aggregated by "
    "market segment in complete mode; must equal the batch join "
    "(the oracle).",
)
def st10_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table

    events = stream_table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        F.broadcast(cust), events.user_id == cust.c_custkey
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    result = run_available_now(agg, output_mode="complete")
    return result.select(
        F.col("c_mktsegment").alias("segment"), "cnt", "sum_value"
    ).orderBy("segment")


# --- ST12: streaming count-min-sketch maintenance -----------------------------

def cms_partial_counters(batch_df: DataFrame) -> DataFrame:
    """Per-batch PARTIAL CMS counters (d, w, cnt) — the additivity that
    makes the sketch streamable: batch partials sum into the corpus
    sketch, no read-modify-write of existing counters."""
    from bigdataindexing_spark.operators.sketches import CMS_D, _CMS_POS_SPARK

    toks = batch_df.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).filter(F.col("t") != "")
    pos = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {CMS_D - 1}), "
                f"d -> named_struct('d', d, 'w', "
                f"{_CMS_POS_SPARK.format(t='t', d='d')}))"
            )
        ).alias("x")
    ).select("x.d", "x.w")
    return pos.groupBy("d", "w").agg(F.count(F.lit(1)).alias("cnt"))


def cms_upsert_batch(cms_dir: str):
    """foreachBatch sink: idempotent batchId-keyed partial write (the ST1
    exactly-once-on-Parquet pattern — a replayed batch overwrites its own
    directory)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        (
            cms_partial_counters(batch_df)
            .write.mode("overwrite")
            .parquet(f"{cms_dir}/batch={batch_id}")
        )

    return fn


def read_cms(spark: SparkSession, cms_dir: str) -> DataFrame:
    """Merge-on-read view: counters are additive, so the serve-time
    sketch is SUM over partials — at most D×W rows however many batches
    contributed."""
    partials = spark.read.option("recursiveFileLookup", "true").parquet(cms_dir)
    return partials.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def _st12_register() -> None:
    from bigdataindexing_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _CMS_POS_DUCK,
    )

    @register(
        "st12_stream_cms",
        oracle=f"""
WITH tok AS (SELECT UNNEST(string_split(lower(text), ' ')) AS t
             FROM documents),
cnts AS (SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t),
ds AS (SELECT UNNEST(range(0, {CMS_D})) AS d)
SELECT d, {_CMS_POS_DUCK.format(t='t', d='d')} AS w,
       CAST(SUM(c) AS BIGINT) AS cnt
FROM cnts CROSS JOIN ds GROUP BY 1, 2 ORDER BY d, w
""",
        tags=("streaming", "sketch"),
        bench=False,
        doc="ST12: streaming count-min-sketch maintenance — document "
        "micro-batches fold into the corpus CMS through foreachBatch "
        "partial-counter writes (batchId-keyed, idempotent under "
        "replay), with the serve-time sketch a merge-on-read SUM over "
        f"partials (counters are additive; at most {CMS_D}x{CMS_W} rows "
        "regardless of batch count). The registered result is the FULL "
        "stream-built counter table, hash-gated against the batch "
        "sketch rebuilt in duckdb — stream-maintained state ≡ batch "
        "state, the st1 contract applied to the sketch layer. The "
        "multi-batch additivity (3-chunk replay ≡ one-shot) is pinned "
        "in tests/test_sketches.py.",
    )
    def st12_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
        from bigdataindexing_spark.sources.store_dirs import session_store_dir
        from bigdataindexing_spark.tables import bounded_sort

        # per-invocation stream output (NOT a build-once store — each
        # replay is the point), but still atexit-reclaimed
        cms_dir = session_store_dir("stream_cms")
        docs = stream_table(spark, sf_dir, "documents")
        run_foreach_batch(docs, cms_upsert_batch(cms_dir), f"{cms_dir}/_checkpoint")
        return bounded_sort(read_cms(spark, cms_dir), "d", "w")


_st12_register()


# --- ST13: streaming SCD2 dimension maintenance ------------------------------

def _scd2_batch_runs(batch_df: DataFrame) -> DataFrame:
    """Within-batch gaps-and-islands: collapse each user's (ts, event_id)-
    ordered events into state runs. Same plan as the batch build
    (operators/behavioral.py q116); per-batch cost is one user_id
    exchange + partition-local windows."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    marked = batch_df.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = marked.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wu = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy("run_id")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(wr))
        .withColumn("is_first", F.col("run_id") == F.min("run_id").over(wu))
        .withColumn("is_last", F.col("run_id") == F.max("run_id").over(wu))
    )


def _latest_open_snapshot(spark: SparkSession, dim_dir: str, before: int):
    """The open-interval snapshot of the newest committed batch < ``before``
    (None when this is the first batch). Replay-safe: a reprocessed batch
    reads the same predecessor snapshot it read the first time."""
    import os

    root = os.path.join(dim_dir, "open")
    if not os.path.isdir(root):
        return None
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("batch=") and int(d.split("=", 1)[1]) < before
    )
    if not ids:
        return None
    return spark.read.parquet(os.path.join(root, f"batch={ids[-1]}"))


def scd2_upsert_batch(dim_dir: str):
    """foreachBatch sink maintaining the SCD2 dimension incrementally.

    Per batch: (a) collapse the batch into state runs; (b) merge each
    user's FIRST run with their open interval — same state extends it
    (valid_from and accumulated n_events carry over), a different state
    closes it at the first run's valid_from; (c) non-last runs close
    within the batch, the last run becomes the new open interval; users
    with no batch events carry their open interval forward. Closed
    intervals append under closed/batch={id}, the open snapshot commits
    under open/batch={id} — both batchId-keyed overwrites, so a replayed
    batch is idempotent (the ST1 exactly-once-on-Parquet pattern). This
    is the q116 scale claim made executable: a delta batch only
    extends/closes each active user's LAST interval — per-active-user
    work, never a corpus rebuild."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        runs = _scd2_batch_runs(
            batch_df.select("user_id", "ts", "event_id", "event_type")
        )
        prev = _latest_open_snapshot(spark, dim_dir, batch_id)
        if prev is None:
            prev = spark.createDataFrame(
                [], "user_id long, state string, valid_from timestamp, "
                "n_events long"
            )
        first = runs.filter("is_first").select(
            "user_id",
            F.col("state").alias("f_state"),
            F.col("valid_from").alias("f_from"),
        )
        j = prev.join(first, "user_id", "left")
        closed_from_open = j.filter(
            F.col("f_state").isNotNull() & (F.col("state") != F.col("f_state"))
        ).select(
            "user_id", "state", "valid_from",
            F.col("f_from").alias("valid_to"), "n_events",
        )
        carry_open = j.filter(F.col("f_state").isNull()).select(
            "user_id", "state", "valid_from", "n_events"
        )
        bonus = j.filter(
            F.col("f_state").isNotNull() & (F.col("state") == F.col("f_state"))
        ).select(
            "user_id",
            F.col("valid_from").alias("o_from"),
            F.col("n_events").alias("o_n"),
        )
        runs2 = (
            runs.join(bonus, "user_id", "left")
            .withColumn(
                "valid_from",
                F.when(
                    F.col("is_first") & F.col("o_from").isNotNull(),
                    F.col("o_from"),
                ).otherwise(F.col("valid_from")),
            )
            .withColumn(
                "n_events",
                F.when(
                    F.col("is_first") & F.col("o_n").isNotNull(),
                    F.col("n_events") + F.col("o_n"),
                ).otherwise(F.col("n_events")),
            )
        )
        closed = closed_from_open.unionByName(
            runs2.filter(~F.col("is_last")).select(
                "user_id", "state", "valid_from", "valid_to", "n_events"
            )
        )
        new_open = (
            runs2.filter(F.col("is_last"))
            .select("user_id", "state", "valid_from", "n_events")
            .unionByName(carry_open)
        )
        closed.write.mode("overwrite").parquet(
            f"{dim_dir}/closed/batch={batch_id}"
        )
        new_open.write.mode("overwrite").parquet(
            f"{dim_dir}/open/batch={batch_id}"
        )

    return fn


def read_scd2_dimension(spark: SparkSession, dim_dir: str) -> DataFrame:
    """Serve the stream-maintained dimension: all closed intervals (append-
    only, immutable) plus the latest open snapshot with valid_to NULL."""
    import os

    closed = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(dim_dir, "closed")
    )
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(dim_dir, "open"))
        if d.startswith("batch=")
    )
    open_ = spark.read.parquet(
        os.path.join(dim_dir, "open", f"batch={ids[-1]}")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))
    return closed.unionByName(
        open_.select("user_id", "state", "valid_from", "valid_to", "n_events")
    ).select(
        "user_id",
        F.col("state").alias("event_type"),
        "valid_from",
        "valid_to",
        "n_events",
    )


def _st13_register() -> None:
    from bigdataindexing_spark.operators.behavioral import _SCD2_SQL

    @register(
        "st13_stream_scd2",
        oracle=_SCD2_SQL,
        tags=("streaming", "temporal"),
        bench=False,
        doc="ST13: streaming SCD2 dimension maintenance — the q116 interval "
        "build kept incrementally current as events arrive. The cohort's "
        "events split into three time-ordered arrival files "
        "(maxFilesPerTrigger=1 forces three micro-batches); each batch "
        "collapses into state runs and merges with the open-interval "
        "snapshot: same state extends the open interval (valid_from and "
        "n_events carry over), a new state closes it, intermediate runs "
        "close within the batch, and the last run per user becomes the "
        "new open interval. Closed intervals are append-only batchId-"
        "keyed writes, the open snapshot commits per batch — replay-"
        "idempotent. The drained dimension is hash-gated against the "
        "BATCH gaps-and-islands oracle (stream-maintained state ≡ batch "
        "rebuild, the st1/st12 contract applied to the temporal layer), "
        "proving the q116 scale claim executable: a delta batch touches "
        "each active user's LAST interval, never the corpus history.",
    )
    def st13_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        from pyspark.sql import Window

        from bigdataindexing_spark.operators.behavioral import SCD2_COHORT
        from bigdataindexing_spark.sources.store_dirs import session_store_dir
        from bigdataindexing_spark.streaming.core import write_arrivals
        from bigdataindexing_spark.tables import bounded_sort, table

        ev = (
            table(spark, sf_dir, "events")
            .filter(F.col("user_id") < SCD2_COHORT)
            .select("user_id", "ts", "event_id", "event_type")
        )
        # time-ordered tercile split: batch k's (ts, event_id) all precede
        # batch k+1's, the arrival order an in-order CDC feed guarantees
        tile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
        chunks = ev.withColumn("tile", tile)
        src = tempfile.mkdtemp(prefix="st13_src_")
        os.makedirs(src, exist_ok=True)
        write_arrivals(
            [
                chunks.filter(F.col("tile") == i).drop("tile")
                for i in (1, 2, 3)
            ],
            src,
        )
        dim_dir = session_store_dir("stream_scd2")
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, "
                "event_type STRING"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        run_foreach_batch(stream, scd2_upsert_batch(dim_dir), f"{dim_dir}/_checkpoint")
        return bounded_sort(
            read_scd2_dimension(spark, dim_dir), "user_id", "valid_from",
            barrier=True,
        )


_st13_register()


# --- ST15: streaming quantile-sketch maintenance ------------------------------

def _st15_register() -> None:
    from bigdataindexing_spark.operators.sketches import _QH_SERVE, QH_W

    @register(
        "st15_stream_quantile",
        oracle=_QH_SERVE.format(
            src=f"(SELECT CAST(FLOOR(n_chars / {QH_W}.0) AS BIGINT) AS bin, "
            "COUNT(*) AS cnt FROM documents GROUP BY bin)",
            w=QH_W,
        ),
        tags=("streaming", "sketch"),
        bench=False,
        doc="ST15: streaming quantile-sketch maintenance — the q119 "
        "fixed-grid histogram kept current as documents arrive, "
        "completing the batch+stream symmetry the CMS store has (st12). "
        "Three doc micro-batches fold into per-batch partial histograms "
        "(batchId-keyed idempotent writes); the quantile serve merges "
        "partials by ADDITION and interpolates p50/p90/p99 — hash-gated "
        "against the batch oracle (stream-maintained sketch ≡ batch "
        "rebuild). Histogram counts are the same additive algebra as "
        "CMS counters, so the maintenance cost per batch is O(batch) "
        "map-side work + a ~bins-sized state write, never a corpus "
        "re-aggregation.",
    )
    def st15_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        from bigdataindexing_spark.sources.store_dirs import session_store_dir
        from bigdataindexing_spark.streaming.core import write_arrivals
        from bigdataindexing_spark.tables import bounded_sort, table

        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        src = tempfile.mkdtemp(prefix="st15_src_")
        os.makedirs(src, exist_ok=True)
        write_arrivals(
            [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)], src
        )
        hist_dir = session_store_dir("stream_quantile")
        stream = (
            spark.readStream.schema("doc_id BIGINT, n_chars BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.groupBy(
                    F.floor(F.col("n_chars") / QH_W).alias("bin")
                )
                .agg(F.count(F.lit(1)).alias("cnt"))
                .write.mode("overwrite")
                .parquet(f"{hist_dir}/batch={batch_id}")
            )

        run_foreach_batch(stream, fn, f"{hist_dir}/_checkpoint")
        partials = spark.read.option("recursiveFileLookup", "true").parquet(
            hist_dir
        )
        view = f"bdi_st15_{abs(hash(hist_dir)) % 10**8}"
        partials.createOrReplaceTempView(view)
        out = spark.sql(
            _QH_SERVE.format(src=view, w=QH_W).rsplit("ORDER BY q", 1)[0]
        )
        return bounded_sort(out, "q")


_st15_register()


# --- ST16: streaming ADAPTIVE quantile-sketch maintenance ---------------------

def _st16_register() -> None:
    from bigdataindexing_spark.operators.sketches import (
        _AQ_ORACLE_SRC,
        _AQ_SERVE,
        _aq_layout,
        _aq_pass2_sql,
    )

    @register(
        "st16_stream_adaptive_quantile",
        oracle=_AQ_SERVE.format(src=_AQ_ORACLE_SRC),
        tags=("streaming", "sketch"),
        bench=False,
        doc="ST16: streaming maintenance of the ADAPTIVE quantile sketch "
        "(X44) — the q126 two-pass layout FROZEN once (in production "
        "from a historical pass; here from the full corpus so the "
        "batch oracle is exact), then each document micro-batch bins "
        "against the frozen layout into a batchId-keyed additive "
        "partial (idempotent overwrite, the st12/st15 discipline). The "
        "serve merges partials by ADDITION and interpolates p50/p90/"
        "p99, hash-gated against the q126 batch oracle: stream-"
        "maintained adaptive sketch ≡ batch rebuild. This is the "
        "production cadence for adaptive sketches at 100 TB: layout "
        "refreshes rarely (a layout change re-bins history), partials "
        "fold per batch at O(batch) cost.",
    )
    def st16_stream_adaptive_quantile(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        from bigdataindexing_spark.sources.store_dirs import session_store_dir
        from bigdataindexing_spark.streaming.core import write_arrivals
        from bigdataindexing_spark.tables import bounded_sort, table

        _n, mn, span, lo, k, off = _aq_layout(spark, sf_dir)
        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        src = tempfile.mkdtemp(prefix="st16_src_")
        os.makedirs(src, exist_ok=True)
        write_arrivals(
            [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)], src
        )
        hist_dir = session_store_dir("stream_adaptive_quantile")
        stream = (
            spark.readStream.schema("doc_id BIGINT, n_chars BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            view = f"bdi_st16_batch_{batch_id}"
            batch_df.withColumn("shard", F.lit(0)).createOrReplaceTempView(
                view
            )
            (
                batch_df.sparkSession.sql(
                    _aq_pass2_sql(view, "shard", mn, span, lo, k, off)
                )
                .drop("shard")
                .write.mode("overwrite")
                .parquet(f"{hist_dir}/batch={batch_id}")
            )

        run_foreach_batch(stream, fn, f"{hist_dir}/_checkpoint")
        partials = spark.read.option("recursiveFileLookup", "true").parquet(
            hist_dir
        )
        view = f"bdi_st16_{abs(hash(hist_dir)) % 10**8}"
        partials.createOrReplaceTempView(view)
        out = spark.sql(_AQ_SERVE.format(src=view).rsplit("ORDER BY q", 1)[0])
        return bounded_sort(out, "q")


_st16_register()


@register(
    "st17_stream_m4",
    oracle="SELECT event_type, date_trunc('hour', ts) AS w, "
    "MIN(value) AS v_min, MAX(value) AS v_max, "
    "first(value ORDER BY ts, event_id) AS v_first, "
    "last(value ORDER BY ts, event_id) AS v_last, "
    "CAST(COUNT(*) AS BIGINT) AS n "
    "FROM events GROUP BY event_type, w ORDER BY event_type, w",
    tags=("streaming", "window-agg", "timeseries"),
    bench=False,
    doc="ST17: streaming maintenance of the M4 downsampling rollup "
    "(q130's batch shape) — tumbling 1-hour windows per event_type, "
    "min/max/first/last/count maintained incrementally as events "
    "arrive (availableNow replay, complete mode). min_by/max_by on the "
    "(ts, event_id) struct key keep first/last deterministic under "
    "any arrival order, which is exactly what makes the streaming "
    "result ≡ the batch/SQL oracle — the stream ≡ batch contract st1 "
    "carries for the index, applied to the visualization rollup a "
    "monitoring pipeline maintains continuously at 100 TB.",
)
def st17_stream_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import bounded_sort

    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.window("ts", "1 hour"), "event_type"
    ).agg(
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.expr("min_by(value, struct(ts, event_id))").alias("v_first"),
        F.expr("max_by(value, struct(ts, event_id))").alias("v_last"),
        F.count(F.lit(1)).alias("n"),
    )
    result = run_available_now(agg, output_mode="complete")
    out = result.select(
        "event_type",
        F.col("window.start").alias("w"),
        "v_min",
        "v_max",
        "v_first",
        "v_last",
        "n",
    )
    return bounded_sort(out, "event_type", "w")
