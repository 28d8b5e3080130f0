"""S1/S7 — JSON document ingest: files in, validated shredded store out.

Spark-native equivalent of the reference's write path
(PlanController.savePlan, PlanController.java:75–115): where the reference
accepts one HTTP body at a time, validates it, shreds it into Redis and
enqueues an index action, we ingest a *directory* of JSON-lines files —
batch for backfill, Structured Streaming for continuous ingest — through
the same validate → shred → store pipeline, set-oriented end to end.

Scale notes: ingest is embarrassingly parallel until the per-type writes
(narrow projections + one posexplode); the streaming variant appends
batchId-keyed partial directories (idempotent under replay, same pattern
as the index maintenance sink) so a restart never double-writes documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdataindexing_spark.documents.shred import (
    TABLE_NAMES,
    ShreddedTables,
    shred,
    write_sized,
    write_tables,
)
from bigdataindexing_spark.documents.validate import validate
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.streaming.core import run_foreach_batch


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of raw JSON document bodies (one document per line)."""
    return spark.read.text(path)


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """Continuous ingest source over the same directory layout."""
    return spark.readStream.text(path)


def ingest_batch(
    spark: SparkSession, in_path: str, out_dir: str
) -> tuple[ShreddedTables, DataFrame]:
    """Backfill path: validate + shred + overwrite the store.

    Returns the shredded tables and the quarantine DataFrame (written to
    ``<out_dir>/quarantine.parquet`` with the violation reasons, the batch
    analogue of the reference's HTTP 400). Every table, the quarantine
    too, is written in sized files (``shred.write_sized``)."""
    raw = read_documents(spark, in_path)
    valid, quarantine = validate(raw)
    tables = shred(valid)
    write_tables(tables, out_dir)
    write_sized(quarantine, f"{out_dir}/quarantine.parquet")
    return tables, quarantine


def _append_partials(out_dir: str):
    def fn(batch_df: DataFrame, batch_id: int) -> None:
        valid, quarantine = validate(batch_df)
        tables = shred(valid)
        for name, df in tables.as_dict().items():
            write_sized(df, f"{out_dir}/{name}/batch={batch_id}")
        write_sized(quarantine, f"{out_dir}/quarantine/batch={batch_id}")

    return fn


def ingest_stream(spark: SparkSession, in_path: str, out_dir: str) -> None:
    """Continuous-ingest path (availableNow replay in tests): each
    micro-batch validates + shreds + appends idempotent batchId-keyed
    partials — the Spark replacement for the reference's per-request
    Redis writes + RabbitMQ enqueue (PlanController.java:100–108).
    The checkpoint lives under ``out_dir/_checkpoint``, beside the table
    directories the store reads, so a later call ingests only the input
    files added since."""
    run_foreach_batch(
        stream_documents(spark, in_path),
        _append_partials(out_dir),
        f"{out_dir}/_checkpoint",
    )


def read_store(spark: SparkSession, out_dir: str, streaming: bool = False) -> ShreddedTables:
    """Read the shredded store written by either ingest path."""
    def rd(name: str) -> DataFrame:
        path = f"{out_dir}/{name}" if streaming else f"{out_dir}/{name}.parquet"
        return spark.read.option("recursiveFileLookup", "true").parquet(path)

    return ShreddedTables(**{name: rd(name) for name in TABLE_NAMES})


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
    import tempfile

    from bigdataindexing_spark.documents.schema import raw_plan_json

    in_dir = tempfile.mkdtemp(prefix="ingest_in_")
    out_dir = tempfile.mkdtemp(prefix="ingest_out_")
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
