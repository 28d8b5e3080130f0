"""Streaming contracts ST1/ST5/ST6 (SURVEY.md §2.8, §5.2).

These cover the behaviors the duckdb oracle can't: multi-batch incremental
index maintenance (stream-built state ≡ batch-built state), idempotent
batch replay (exactly-once on plain Parquet), watermark late-data dropping,
and stateful dedup across micro-batches.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataindexing_spark.index.build import postings as batch_postings
from bigdataindexing_spark.streaming.core import (
    replay_stream,
    run_available_now,
    run_foreach_batch,
)
from bigdataindexing_spark.streaming.index_maintenance import (
    compact,
    read_postings,
    upsert_batch,
)
from bigdataindexing_spark.tables import table
from tests.jobs import newest_job


def _ts(h, m):
    return dt.datetime(2024, 1, 1, h, m)


def test_stream_index_equals_batch(spark, sf_dir, tmp_path):
    """ST1: documents streamed in multiple micro-batches build the same
    postings as one batch job over the identical data."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    splits = docs.randomSplit([1.0, 1.0, 1.0], seed=42)
    stream = replay_stream(splits, str(tmp_path / "ingest"))

    index_dir = str(tmp_path / "index")
    run_foreach_batch(stream, upsert_batch(index_dir), str(tmp_path / "ckpt"))

    streamed = {r["token"]: r["df"] for r in read_postings(spark, index_dir).collect()}
    batch = {
        r["token"]: r["df"]
        for r in batch_postings(docs).select("token", "df").collect()
    }
    assert streamed == batch
    assert len(streamed) > 0

    # compaction preserves the merged state
    base = str(tmp_path / "compacted")
    compact(spark, index_dir, base)
    compacted = {
        r["token"]: r["df"] for r in spark.read.parquet(base).collect()
    }
    assert compacted == streamed


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once contract: re-running a micro-batch (failure replay)
    overwrites its own partial dir and leaves the merged state unchanged."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    index_dir = str(tmp_path / "index")
    fn = upsert_batch(index_dir)
    fn(docs, 0)
    once = sorted(read_postings(spark, index_dir).collect())
    fn(docs, 0)  # replay the same batchId
    twice = sorted(read_postings(spark, index_dir).collect())
    assert once == twice


def test_crash_replay_exactly_once_index(spark, sf_dir, tmp_path):
    """Exactly-once under a REAL crash: the sink fails midway through a
    micro-batch AFTER writing a partial (wrong) state for it; the stream
    is restarted on the same checkpoint, Spark replays the uncommitted
    batch, the batchId-keyed overwrite replaces the partial garbage, and
    the final postings equal the batch-built oracle. This is the failure
    window the batchId-keyed partial-directory pattern exists for — the
    happy-path st1 check never exercises it (SURVEY §7 phase-4)."""
    import pytest

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    splits = docs.randomSplit([1.0, 1.0, 1.0], seed=42)
    stream = replay_stream(splits, str(tmp_path / "ingest"))

    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    real = upsert_batch(index_dir)
    crash_marker = str(tmp_path / "crashed_once")

    def crashing_fn(batch_df, batch_id):
        if batch_id == 1 and not os.path.exists(crash_marker):
            # crash simulation: write a PARTIAL state for this batch (the
            # partial postings of half the rows — wrong data, the worst
            # case: present but incomplete), then die before finishing
            real(batch_df.filter("doc_id % 2 = 0"), batch_id)
            with open(crash_marker, "w") as f:
                f.write("x")
            raise RuntimeError("simulated executor loss mid-batch")
        real(batch_df, batch_id)

    with pytest.raises(Exception, match="simulated executor loss"):
        run_foreach_batch(stream, crashing_fn, ckpt)
    assert os.path.exists(crash_marker)  # the partial write happened

    # restart on the same checkpoint: batch 1 was never committed, so it
    # replays; its keyed overwrite replaces the partial directory
    run_foreach_batch(stream, crashing_fn, ckpt)

    streamed = {
        r["token"]: r["df"] for r in read_postings(spark, index_dir).collect()
    }
    batch = {
        r["token"]: r["df"]
        for r in batch_postings(docs).select("token", "df").collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST5: a row arriving past the watermark is excluded from its window."""
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
    batch1 = spark.createDataFrame(
        [Row(event_id=1, ts=_ts(0, 5), user_id=1),
         Row(event_id=2, ts=_ts(1, 0), user_id=1)],
        schema,
    )
    # buffer batch: advances the watermark well past the 00:00 window and
    # forces its finalization (watermark updates lag one micro-batch).
    batch2 = spark.createDataFrame(
        [Row(event_id=9, ts=_ts(2, 0), user_id=1)], schema
    )
    # event 3 falls in the [00:00, 00:10) window but arrives when the
    # watermark (>= 01:50) has long passed that window's end.
    batch3 = spark.createDataFrame(
        [Row(event_id=3, ts=_ts(0, 6), user_id=1),
         Row(event_id=4, ts=_ts(3, 0), user_id=1)],
        schema,
    )
    stream = replay_stream([batch1, batch2, batch3], str(tmp_path / "src"))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    result = run_available_now(agg, output_mode="append")
    first_window = [
        r["cnt"] for r in result.collect() if r["window"]["start"] == _ts(0, 0)
    ]
    # the 00:00 window was finalized exactly once, with ONE row — the late
    # event 3 was dropped, and did not re-open the evicted window either
    assert first_window == [1]


def test_st5_registry_contract(spark, sf_dir):
    """ST5 as a registered query: every finalized window carries the batch
    count (the late replay contributed nothing), each window is emitted
    exactly once, and the replayed (earliest) window IS among the emitted
    ones — the drop is observed, not vacuously true."""
    from bigdataindexing_spark.streaming.queries import st5_watermark_drop
    from bigdataindexing_spark.tables import table

    rows = st5_watermark_drop(spark, sf_dir).collect()
    assert rows, "no finalized windows emitted"
    assert all(r["late_dropped_ok"] for r in rows)
    ws = [r["w"] for r in rows]
    assert len(ws) == len(set(ws)), "a window was emitted more than once"
    earliest = (
        table(spark, sf_dir, "events")
        .agg(F.min(F.date_trunc("minute", "ts")))
        .collect()[0][0]
    )
    # the replayed event's 10-minute window start
    floor = earliest.replace(minute=earliest.minute - earliest.minute % 10)
    assert floor in ws, "the late-replayed window was never finalized"


def test_stateful_dedup_across_batches(spark, tmp_path):
    """ST6: dropDuplicates state carries across micro-batches — a duplicate
    event_id arriving in a later batch (within the watermark) is suppressed."""
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
    batch1 = spark.createDataFrame(
        [Row(event_id=1, ts=_ts(0, 1), user_id=1),
         Row(event_id=2, ts=_ts(0, 2), user_id=1)],
        schema,
    )
    batch2 = spark.createDataFrame(
        [Row(event_id=2, ts=_ts(0, 3), user_id=1),  # duplicate id
         Row(event_id=3, ts=_ts(0, 4), user_id=1)],
        schema,
    )
    stream = replay_stream([batch1, batch2], str(tmp_path / "src"))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    result = run_available_now(deduped, output_mode="append")
    ids = sorted(r["event_id"] for r in result.collect())
    assert ids == [1, 2, 3]


def test_stateful_sessionize_state_crosses_batches(spark, tmp_path):
    """applyInPandasWithState: a session spanning two micro-batches closes
    with the COMBINED count, and an in-gap event in a later batch extends
    rather than restarts the session."""
    from bigdataindexing_spark.streaming.stateful import sessionize

    schema = "user_id BIGINT, ts TIMESTAMP"
    batch1 = spark.createDataFrame(
        [Row(user_id=1, ts=_ts(0, 0)), Row(user_id=1, ts=_ts(0, 10))], schema
    )
    # 0:20 continues the session started in batch 1 (gap < 30 min);
    # 2:00 closes it, emitting the 3-event session
    batch2 = spark.createDataFrame(
        [Row(user_id=1, ts=_ts(0, 20)), Row(user_id=1, ts=_ts(2, 0))], schema
    )
    stream = replay_stream([batch1, batch2], str(tmp_path / "src"))
    result = run_available_now(sessionize(stream), output_mode="append")
    rows = [(r["user_id"], r["session_start"], r["cnt"]) for r in result.collect()]
    # exactly one closed session: started 00:00, 3 events; the 02:00
    # session stays open in state and is never emitted
    assert rows == [(1, _ts(0, 0), 3)]


def test_stream_lsh_dedup_state_crosses_batches(spark, sf_dir, tmp_path):
    """Streaming MinHash-LSH: near-dup pairs whose two members arrive in
    DIFFERENT micro-batches are still found (bucket state persists), and
    the multi-batch streamed result equals the batch near-dup result."""
    from bigdataindexing_spark.operators.dedup import (
        _shingle_docs,
        _jaccard_pairs,
        dedup_minhash_lsh,
    )
    from bigdataindexing_spark.streaming.lsh_dedup import (
        stream_lsh_candidates,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # split so near-dup partners tend to land in different arrivals
    splits = [
        docs.filter(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    stream = replay_stream(splits, str(tmp_path / "docs_src"))
    pairs = run_available_now(
        stream_lsh_candidates(stream), output_mode="append"
    ).distinct()
    streamed = _jaccard_pairs(
        _shingle_docs(spark, sf_dir), pairs=pairs
    ).collect()
    batch = dedup_minhash_lsh(spark, sf_dir).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    # the pair set is non-trivial and at least one pair crosses batches
    assert len(streamed) > 0
    assert any(r["doc_a"] % 3 != r["doc_b"] % 3 for r in streamed)


def test_st11_outer_join_oracle(spark, sf_dir):
    """ST11: matched pairs equal the batch inner interval join, and the
    null-padded set is exactly the watermark-finalized unmatched views
    (view_ts <= max(ts) - 2h: eviction boundary = watermark(max - 1h)
    passing view_ts + match-window(1h))."""
    import datetime

    from bigdataindexing_spark.streaming.queries import (
        st11_stream_stream_outer,
    )
    from bigdataindexing_spark.tables import table

    rows = st11_stream_stream_outer(spark, sf_dir).collect()
    got_matched = {(r["view_id"], r["purchase_id"]) for r in rows
                   if r["purchase_id"] is not None}
    got_nulls = {r["view_id"] for r in rows if r["purchase_id"] is None}

    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    bj = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).collect()
    want_matched = {(r["view_id"], r["purchase_id"]) for r in bj
                    if r["purchase_id"] is not None}
    mx = ev.agg(F.max("ts")).collect()[0][0]
    thr = mx - datetime.timedelta(hours=2)
    want_nulls = {r["view_id"] for r in bj
                  if r["purchase_id"] is None and r["view_ts"] <= thr}
    assert got_matched == want_matched
    assert got_nulls == want_nulls


def test_st11_no_view_on_eviction_boundary(spark, sf_dir):
    """st11's full-hash oracle uses `view_ts <= max(ts) - 2h` for the
    watermark-finalized set; Spark's state eviction at EXACTLY that
    instant may be strict. The corpora keep every view strictly off the
    boundary (microsecond timestamps — a hit is measure-zero), so the
    two predicates agree. If regenerated testdata ever lands a view on
    the boundary, fail HERE with a clear message instead of as an
    opaque hash mismatch in the driver."""
    from pyspark.sql import functions as F

    from bigdataindexing_spark.tables import table

    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    n = (
        ev.filter(F.col("event_type") == "view")
        .crossJoin(mx)
        .filter(F.col("ts") == F.col("m") - F.expr("INTERVAL 2 HOUR"))
        .count()
    )
    assert n == 0, (
        "a view sits exactly on the st11 watermark-eviction boundary "
        "(max(ts) - 2h); nudge the oracle predicate or regenerate data"
    )


def test_st4_stream_session_equals_batch_and_merges_across_batches(spark, sf_dir):
    """ST4 as a true stream (VERDICT r5 #5): the streamed session_window
    result must equal the batch session_window result exactly, AND the
    replay split must actually exercise cross-batch session merges —
    i.e. at least one emitted session contains events from more than one
    arrival file (event_id % 3 differs within the session). Without the
    second assertion a time-ordered split could pass while never merging
    state across micro-batches."""
    from bigdataindexing_spark.registry import queries

    qs = queries()
    streamed = qs["st4_stream_session"](spark, sf_dir).collect()
    batch = qs["q29_session_window"](spark, sf_dir).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert len(streamed) > 0

    # sessions with >1 event whose members span arrival files: recompute
    # session membership in batch and check the arrival split (id % 3)
    # is non-constant inside at least one session
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev").isNull()
                | (F.col("ts").cast("long") - F.col("prev").cast("long") >= 1800)
            ).cast("int"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(F.count_distinct((F.col("event_id") % 3)).alias("n_arrivals"))
    )
    assert sess.filter(F.col("n_arrivals") > 1).count() > 0


def test_st13_scd2_merge_paths_and_replay(spark, tmp_path):
    """ST13 unit contract on synthetic arrivals that force every merge
    path: extend-open (same state continues across a batch boundary),
    close-open (state change at a boundary), within-batch close, and
    carry-forward (user absent from a batch keeps their open interval).
    Then the whole stream REPLAYS into the same store (fresh checkpoint,
    batch ids restart) and must land on the identical dimension —
    batchId-keyed writes make reprocessing idempotent."""
    import datetime as dt

    from bigdataindexing_spark.streaming.queries import (
        read_scd2_dimension,
        scd2_upsert_batch,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"
    arrivals = [
        spark.createDataFrame(
            [(1, t(0), 10, "a"), (1, t(1), 11, "a")], schema
        ),
        spark.createDataFrame(
            [(1, t(2), 12, "a"), (1, t(3), 13, "b"), (2, t(2), 20, "x")],
            schema,
        ),
        spark.createDataFrame([(1, t(4), 14, "b")], schema),
    ]
    stream = replay_stream(arrivals, str(tmp_path / "src"))
    dim_dir = str(tmp_path / "dim")

    def drain(ckpt: str):
        run_foreach_batch(
            stream, scd2_upsert_batch(dim_dir), str(tmp_path / ckpt)
        )
        return sorted(
            tuple(r)
            for r in read_scd2_dimension(spark, dim_dir).collect()
        )

    first = drain("ckpt_first")
    expected = sorted(
        [
            (1, "a", t(0), t(3), 3),  # extended across batches 0->1, closed in 1
            (1, "b", t(3), None, 2),  # opened in batch 1, extended by batch 2
            (2, "x", t(2), None, 1),  # carried forward through batch 2
        ]
    )
    assert first == expected
    # full replay (fresh checkpoint) into the same store: identical end state
    assert drain("ckpt_replay") == expected


def test_opening_a_partial_store_starts_no_spark_job(spark, tmp_path):
    """The index and CMS partial stores are read with their declared
    partial schemas, so opening either one infers nothing from Parquet
    footers: no Spark job starts until the view is queried."""
    from bigdataindexing_spark.streaming.queries import cms_upsert_batch, read_cms

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id BIGINT, text STRING"
    )
    index_dir, cms_dir = str(tmp_path / "index"), str(tmp_path / "cms")
    upsert_batch(index_dir)(docs, 0)
    cms_upsert_batch(cms_dir)(docs, 0)
    before = newest_job(spark)
    postings = read_postings(spark, index_dir)
    cms = read_cms(spark, cms_dir)
    opened = newest_job(spark)
    assert opened == before
    # the counts' jobs are seen, so the tracker does see this thread's jobs
    assert sorted(map(tuple, postings.collect())) == [("a", 1), ("b", 2), ("c", 1)]
    assert cms.count() > 0
    assert newest_job(spark) > opened


def test_declared_partial_schemas_match_their_builders(spark, sf_dir, tmp_path):
    """Each partial store's declared schema is exactly what its builder
    writes: same column names and types, so the typed readers cannot
    drift from the partials on disk."""
    from bigdataindexing_spark.operators.sketches import _aq_layout
    from bigdataindexing_spark.streaming import queries as sq
    from bigdataindexing_spark.streaming.index_maintenance import (
        POSTINGS_SCHEMA,
        _partial_postings,
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    def declared(ddl):
        return fields(spark.createDataFrame([], ddl).schema)

    docs = table(spark, sf_dir, "documents").limit(20)
    _n, mn, span, lo, k, off = _aq_layout(spark, sf_dir)
    built = {
        "postings": (_partial_postings(docs), POSTINGS_SCHEMA),
        "cms": (sq.cms_partial_counters(docs), sq.CMS_PARTIAL_SCHEMA),
        "qh": (sq.qh_partial_hist(docs), sq.QH_PARTIAL_SCHEMA),
        "aq": (sq.aq_partial_hist(mn, span, lo, k, off)(docs), sq.AQ_PARTIAL_SCHEMA),
    }
    for name, (df, ddl) in built.items():
        assert fields(df.schema) == declared(ddl), name

    # SCD2 writes two partials per batch: compare what two batches wrote
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"
    dim_dir = str(tmp_path / "dim")
    fn = sq.scd2_upsert_batch(dim_dir)
    fn(spark.createDataFrame([(1, _ts(0, 0), 1, "a")], schema), 0)
    fn(spark.createDataFrame([(1, _ts(0, 1), 2, "b")], schema), 1)
    for sub, ddl in (("closed", sq.SCD2_CLOSED_SCHEMA), ("open", sq.SCD2_OPEN_SCHEMA)):
        written = spark.read.parquet(f"{dim_dir}/{sub}/batch=1").schema
        assert fields(written) == declared(ddl), sub


def _drain_to_memory(sdf, name: str, ckpt: str):
    """Drain ``sdf`` (availableNow, append) into the memory table ``name``
    and return the finished query, whose progress reports its state."""
    q = (
        sdf.writeStream.trigger(availableNow=True)
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return q


def test_stream_dedup_state_bounded_by_watermark(spark, tmp_path):
    """ST6's dedup keeps state only for the ids inside the watermark.
    Six micro-batches an hour of event time apart each bring 20 new ids
    (and one repeat of an id from the same batch); after the last batch
    the state holds at most the ids whose first ts + 10 minutes is past
    the watermark that batch evicts against (max ts before it − 10
    minutes), not every id the stream has seen."""
    from bigdataindexing_spark.streaming.queries import dedup_events

    n_batches, per_batch, delay = 6, 20, dt.timedelta(minutes=10)
    rows = [
        [(b * per_batch + i, _ts(b, i % 10), 1) for i in range(per_batch)]
        + [(b * per_batch, _ts(b, 9), 1)]
        for b in range(n_batches)
    ]
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
    stream = replay_stream(
        [spark.createDataFrame(r, schema) for r in rows], str(tmp_path / "src")
    )
    q = _drain_to_memory(dedup_events(stream), "dedup_state_bound", str(tmp_path / "ckpt"))

    out = sorted(r["event_id"] for r in spark.table("dedup_state_bound").collect())
    assert out == list(range(n_batches * per_batch))
    watermark = max(ts for r in rows[:-1] for _, ts, _ in r) - delay
    inside = {i for r in rows for i, ts, _ in r if ts + delay > watermark}
    state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert state <= len(inside) < n_batches * per_batch


def test_sessionize_state_bounded_by_users(spark, tmp_path):
    """``stateful.sessionize`` keeps one state row per user: across six
    micro-batches of advancing event time, in which sessions close and
    reopen, the state never holds more rows than there are users."""
    from bigdataindexing_spark.streaming.stateful import sessionize

    users, n_batches = 3, 6
    schema = "user_id BIGINT, ts TIMESTAMP"
    arrivals = [
        spark.createDataFrame(
            [(u, _ts(b, m)) for u in range(users) for m in (0, 10)], schema
        )
        for b in range(n_batches)
    ]
    stream = replay_stream(arrivals, str(tmp_path / "src"))
    q = _drain_to_memory(sessionize(stream), "session_state_bound", str(tmp_path / "ckpt"))

    # every batch but the last closes each user's previous session
    closed = spark.table("session_state_bound").collect()
    assert len(closed) == users * (n_batches - 1)
    states = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert len(states) >= n_batches
    assert 0 < max(states) <= users
