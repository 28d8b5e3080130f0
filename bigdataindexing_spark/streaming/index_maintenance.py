"""ST1 — change-capture → incremental index build (SURVEY.md §2.8).

Spark-native replacement for the reference's RabbitMQ→Elasticsearch pipeline
(PlanController.java:100–108 enqueue; IndexingListener.java:115–125 upsert):
a ``foreachBatch`` sink that maintains the inverted-index tables
incrementally as document micro-batches arrive.

The index is a batch-keyed partial store (:mod:`..streaming.core`): each
micro-batch overwrites its PARTIAL postings ``(token, df)`` under
``<index_dir>/batch=<batchId>/``, so a replayed batch is idempotent, and
the serve-time view is merge-on-read, ``groupBy(token).sum(df)`` over every
partial. The store stays plain Parquet partials rather than a table on the
Delta log (:mod:`..sources.delta_log`) because ``df`` is additive: a batch
only adds its own counts, so the write path never needs the read-modify-
write a log's MERGE would do, and the periodic ``compact`` folds the
partials into one base when their count grows.

This makes stream-built index state ≡ batch-built state by construction,
which is the declared ST1 check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.index.build import doc_terms
from bigdataindexing_spark.streaming.core import (
    partial_sink,
    read_partials,
    run_foreach_batch,
    stream_table,
)

# the declared schema of one partial: what _partial_postings produces
POSTINGS_SCHEMA = "token STRING, df BIGINT"


def _partial_postings(docs_batch: DataFrame) -> DataFrame:
    """Per-batch partial: (token, df) — one shuffle keyed by token."""
    return (
        doc_terms(docs_batch)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def upsert_batch(index_dir: str):
    """foreachBatch function: idempotent partial write keyed by batchId."""
    return partial_sink(index_dir, _partial_postings)


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Merge-on-read view over the partial directories."""
    return (
        read_partials(spark, index_dir, POSTINGS_SCHEMA)
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
    )


def compact(spark: SparkSession, index_dir: str, out_dir: str) -> None:
    """Fold all partials into a single sorted base (periodic maintenance)."""
    (
        read_postings(spark, index_dir)
        .repartition("token")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def streaming_index_build(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """Stream the documents table through the incremental index maintenance
    pipeline, then return the merged postings view. The checkpoint lives
    under ``index_dir/_checkpoint`` (a hidden path the partial scan
    skips), so a later call processes only documents added since."""
    docs = stream_table(spark, sf_dir, "documents")
    run_foreach_batch(docs, upsert_batch(index_dir), f"{index_dir}/_checkpoint")
    return read_postings(spark, index_dir)
