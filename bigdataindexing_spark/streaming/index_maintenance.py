"""ST1 — change-capture → incremental index build (SURVEY.md §2.8).

Spark-native replacement for the reference's RabbitMQ→Elasticsearch pipeline
(PlanController.java:100–108 enqueue; IndexingListener.java:115–125 upsert):
a ``foreachBatch`` sink that maintains the inverted-index tables
incrementally as document micro-batches arrive.

Exactly-once on plain Parquet (no Delta in this container) uses the
*batchId-keyed partial directory* pattern:

- each micro-batch writes its PARTIAL postings (token, df) to
  ``<index_dir>/batch=<batchId>/`` with ``mode=overwrite`` — a replayed
  batch (restart after failure) overwrites its own directory, so the result
  is idempotent;
- the serve-time view is merge-on-read: scan all partials and re-aggregate
  ``groupBy(token).sum(df)``. At 100 TB this is the right trade: the write
  path never rewrites existing index data (no read-modify-write
  amplification), and the periodic compaction job (``compact``) folds
  partials into one base when the partial count grows.

This makes stream-built index state ≡ batch-built state by construction,
which is the declared ST1 check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.index.build import doc_terms
from bigdataindexing_spark.streaming.core import run_foreach_batch, stream_table


def _partial_postings(docs_batch: DataFrame) -> DataFrame:
    """Per-batch partial: (token, df) — one shuffle keyed by token."""
    return (
        doc_terms(docs_batch)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def upsert_batch(index_dir: str):
    """foreachBatch function: idempotent partial write keyed by batchId."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        (
            _partial_postings(batch_df)
            .write.mode("overwrite")
            .parquet(f"{index_dir}/batch={batch_id}")
        )

    return fn


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Merge-on-read view over the partial directories."""
    partials = spark.read.option("recursiveFileLookup", "true").parquet(index_dir)
    return partials.groupBy("token").agg(F.sum("df").alias("df"))


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
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the documents table through the incremental index maintenance
    pipeline, then return the merged postings view. The checkpoint lives
    under ``index_dir/_checkpoint`` (a hidden path the partial scan
    skips), so a later call processes only documents added since."""
    docs = stream_table(spark, sf_dir, "documents")
    if max_files_per_trigger is not None:
        # re-read with the trigger cap so the run exercises multi-batch paths
        schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        docs = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(sf_dir)
        )
    run_foreach_batch(docs, upsert_batch(index_dir), f"{index_dir}/_checkpoint")
    return read_postings(spark, index_dir)
