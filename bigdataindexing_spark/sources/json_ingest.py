"""S1/S7 — JSON document ingest: files in, validated shredded store out.

Spark-native equivalent of the reference's write path
(PlanController.savePlan, PlanController.java:75–115): where the reference
accepts one HTTP body at a time, validates it, shreds it into Redis and
enqueues an index action, we ingest a *directory* of JSON-lines files —
batch for backfill, Structured Streaming for continuous ingest — through
one validate → shred → write step (:func:`ingest`), set-oriented end to end,
that parses each body once (persist → six writes → unpersist).

The store has one layout, read by one reader (:func:`read_store`):
``<out_dir>/<table>.parquet`` per table and ``<out_dir>/quarantine.parquet``.
A batch ingest writes those directories; each stream micro-batch writes
the partial ``<table>.parquet/batch=<batchId>`` beneath them
(``streaming.core.partial_path``), an overwrite
keyed by batch id (idempotent under replay, the same pattern as the index
maintenance sink), so a restart never double-writes documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdataindexing_spark.documents.shred import TABLE_NAMES  # noqa: F401  (re-exported)
from bigdataindexing_spark.documents.shred import ShreddedTables, planned_bytes, shred
from bigdataindexing_spark.documents.shred import table_path, write_sized
# the store's one reader, for every store either ingest path writes
from bigdataindexing_spark.documents.shred import read_tables as read_store  # noqa: F401
from bigdataindexing_spark.documents.validate import annotate, split
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.streaming.core import partial_path, run_foreach_batch


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of raw JSON document bodies (one document per line)."""
    return spark.read.text(path)


def ingest(
    raw: DataFrame, out_dir: str, batch_id: int | None = None
) -> tuple[ShreddedTables, DataFrame]:
    """Validate + shred + write raw bodies into the store at ``out_dir``:
    each table, and the quarantine with its violation reasons (the batch
    analogue of the reference's HTTP 400), overwrites
    ``<out_dir>/<name>.parquet``, or its ``batch=<batch_id>`` partial when
    a micro-batch id is given, in sized files (``shred.write_sized``).
    Each body is parsed once: the validated batch is persisted, the six
    writes read it, and it is unpersisted however they end (the Structured
    Streaming idiom for a ``foreachBatch`` writing several sinks). Returns
    the shredded tables and the quarantine DataFrame."""
    annotated = annotate(raw)
    valid, quarantine = split(annotated)
    tables = shred(valid)
    outputs = {**tables.as_dict(), "quarantine": quarantine}
    # planned before the persist: a returned frame used later never rebuilds
    # (and keeps) the released cache, and write_sized sizes each write by this
    # estimate of the input; each write's own plan, made inside, reads the cache
    for df in outputs.values():
        planned_bytes(df)
    annotated.persist()
    try:
        for name, df in outputs.items():
            path = table_path(out_dir, name)
            write_sized(df, path if batch_id is None else partial_path(path, batch_id))
    finally:
        annotated.unpersist()
    return tables, quarantine


def ingest_batch(
    spark: SparkSession, in_path: str, out_dir: str
) -> tuple[ShreddedTables, DataFrame]:
    """Backfill path: :func:`ingest` of every file under ``in_path``,
    overwriting the store."""
    return ingest(read_documents(spark, in_path), out_dir)


def ingest_stream(spark: SparkSession, in_path: str, out_dir: str) -> None:
    """Continuous-ingest path (availableNow replay in tests): each
    micro-batch is one :func:`ingest` into its ``batch=<batchId>``
    partials — the Spark replacement for the reference's per-request
    Redis writes + RabbitMQ enqueue (PlanController.java:100–108).
    The checkpoint lives under ``out_dir/_checkpoint``, beside the table
    directories, so a later call ingests only the input files added
    since."""
    run_foreach_batch(
        spark.readStream.text(in_path),
        lambda batch_df, batch_id: ingest(batch_df, out_dir, batch_id),
        f"{out_dir}/_checkpoint",
    )


@register(
    "src_json_ingest",
    oracle=None,  # document-pipeline contract; verified by tests/test_ingest.py
    tags=("source", "documents"),
    bench=False,
    doc="S1 end-to-end: JSON-lines documents → validate (quarantine) → "
    "shred → per-type store; returns per-table row counts plus the "
    "quarantine count.",
)
def src_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.documents.schema import raw_plan_json
    from bigdataindexing_spark.sources.store_dirs import session_store_dir

    root = session_store_dir("json_ingest")
    in_dir, out_dir = f"{root}/in", f"{root}/out"
    raw_plan_json(spark, n=40, include_invalid=True).coalesce(1).write.mode(
        "overwrite"
    ).text(in_dir)
    tables, quarantine = ingest_batch(spark, in_dir, out_dir)
    counts = [
        (name, df.count()) for name, df in tables.as_dict().items()
    ] + [("quarantine", quarantine.count())]
    return spark.createDataFrame(counts, "table_name string, cnt long").orderBy(
        "table_name"
    )
