"""Structured Streaming plumbing (SURVEY.md §2.8): the one module that knows
the micro-batch store format and the replay harness.

The reference's only asynchronous dataflow is a RabbitMQ queue between the
write path and the Elasticsearch index build (PlanController.java:100–108 →
IndexingListener.java:23–45, at-most-once, FIFO, no windows/watermarks).
Spark-native replacement: file-source ``readStream`` over the ingest
directory, transformations, and ``foreachBatch`` / memory sinks, with
watermarks and windowed aggregations as first-class operators.

**Partial-store contract.** A batch-keyed partial store is a directory of
``<out_dir>/batch=<batchId>`` subdirectories, one per micro-batch:

- :func:`partial_sink` is the ``foreachBatch`` fn that overwrites
  ``batch=<id>`` with ``build(batch_df)`` (:func:`write_partial` writes one
  partial), so a replayed batch (restart after a failure) replaces its own
  directory and the store is exactly-once on plain Parquet;
- :func:`read_partials` reads every partial recursively with the schema
  the store declares for its partials, so opening a store starts no Spark
  job (no footer schema inference); serving is merge-on-read over that
  relation. Paths starting with ``_`` (a ``_checkpoint`` kept inside the
  store) are skipped by the reader;
- :func:`latest_partial` finds the newest ``batch=<id>`` below a batch id,
  for stores whose partials are snapshots rather than additive deltas.

**Replay contract.** :func:`replay_stream` writes each DataFrame as one
file-source arrival into a caller-given directory and returns the
``maxFilesPerTrigger=1`` stream over them with their schema: arrival ``i``
is micro-batch ``i``, the deterministic harness for multi-batch semantics
(watermark advancement, late-data drop, state carry-over) that wall-clock
arrival order cannot give. ``run_available_now`` / ``run_foreach_batch``
drain a stream with the availableNow trigger, the batch-replay mode that
makes streaming plans testable (stream result ≡ batch result on the same
input).

Checkpoints are caller-owned; on a cluster they would be durable storage.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession

from bigdataindexing_spark.sources.store_dirs import session_store_dir
from bigdataindexing_spark.tables import events_ts, table_schema

_qname_counter = itertools.count()


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one driver test table (Parquet file source).

    Uses ``pathGlobFilter`` so the stream sees exactly the one table file in
    the shared sf directory. The reader is given the file schema the
    table's store recorded, so opening the stream starts no Spark job;
    ``events`` gets the same ``ts`` fix as
    :func:`bigdataindexing_spark.tables.table`.
    """
    raw = (
        spark.readStream.schema(table_schema(spark, sf_dir, name))
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return events_ts(spark, raw) if name == "events" else raw


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink and
    return the result as a batch DataFrame."""
    qname = f"stream_result_{next(_qname_counter)}"
    ckpt = checkpoint or session_store_dir("ckpt")
    query = (
        sdf.writeStream.trigger(availableNow=True)
        .format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    query.awaitTermination()
    return sdf.sparkSession.table(qname)


def run_foreach_batch(sdf: DataFrame, fn, checkpoint: str) -> None:
    """Drain a streaming DataFrame through ``foreachBatch(fn)`` (availableNow).
    The checkpoint records what was consumed: a later call with the same
    checkpoint processes only input added since."""
    query = (
        sdf.writeStream.trigger(availableNow=True)
        .foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    query.awaitTermination()


def replay_stream(dfs, src: str) -> DataFrame:
    """Write each DataFrame in ``dfs`` as one arrival file under ``src`` and
    return the ``maxFilesPerTrigger=1`` stream over them, with the first
    arrival's schema. Explicit mtimes make the FileStreamSource pick the
    files up in list order, so arrival ``i`` is micro-batch ``i``."""
    for i, df in enumerate(dfs):
        sub = os.path.join(src, f"arrival_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        parts = sorted(n for n in os.listdir(sub) if n.endswith(".parquet"))
        # coalesce(1) above makes this structural; check anyway so a
        # future multi-part write fails loudly instead of silently
        # renaming every part onto the same file
        if len(parts) != 1:
            raise AssertionError(
                f"arrival {i} wrote {len(parts)} parquet parts; exactly one "
                "file per arrival is required for deterministic replay"
            )
        dst = os.path.join(src, f"file_{i}.parquet")
        os.rename(os.path.join(sub, parts[0]), dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return (
        dfs[0].sparkSession.readStream.schema(dfs[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def partial_path(out_dir: str, batch_id: int) -> str:
    """``<out_dir>/batch=<batch_id>``: the one spelling of a micro-batch's
    partial, for every partial writer and :func:`latest_partial`."""
    return f"{out_dir}/batch={batch_id}"


def write_partial(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Overwrite the partial ``<out_dir>/batch=<batch_id>`` with ``df``."""
    df.write.mode("overwrite").parquet(partial_path(out_dir, batch_id))


def partial_sink(out_dir: str, build):
    """The ``foreachBatch`` fn of a partial store: each micro-batch
    overwrites its own ``batch=<id>`` with ``build(batch_df)``, so a
    replayed batch is idempotent."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        write_partial(build(batch_df), out_dir, batch_id)

    return fn


def read_partials(spark: SparkSession, out_dir: str, schema) -> DataFrame:
    """Every partial under ``out_dir``, read recursively as one relation
    with the store's declared partial ``schema``: no Spark job starts."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


def latest_partial(out_dir: str, before: int | None = None) -> str | None:
    """The path of the newest ``batch=<id>`` partial under ``out_dir`` with
    ``id < before`` (any id when ``before`` is None), or None when there is
    none. Replay-safe: a reprocessed batch finds the same predecessor it
    found the first time."""
    if not os.path.isdir(out_dir):
        return None
    ids = [
        int(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("batch=")
    ]
    ids = [i for i in ids if before is None or i < before]
    return partial_path(out_dir, max(ids)) if ids else None
