"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-at-scale first:
- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- Arrow on (any pandas-UDF path is vectorized);
- UTC session timezone (deterministic date/timestamp semantics vs the
  duckdb oracle);
- shuffle partitions sized by env (`SPARK_GRAFT_CPUS`) — on a real cluster
  AQE coalesces the excess, on local mode we avoid 200 tiny tasks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bigdataindexing-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory size, not to defaultParallelism: the
        # Spark-documented production setting — small shuffles collapse to
        # few tasks (less scheduling floor) and big shuffles still split by
        # bytes. parallelismFirst=true only helps when data is tiny AND
        # cores would idle, which AQE can't know better than the advisory.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs ship rows over Arrow batches instead of pickled
        # rows (same rationale as pandas UDFs — the serializer, not the
        # Python generator, is the dominant cost at scale)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Static conf, default 100: the generated-class cache is keyed by
        # plan source, and a workload with >100 distinct plans (this
        # engine's query registry alone has ~160) evicts round-robin, so
        # every query pays janino recompilation (~50-300ms) on each
        # re-execution. Sized above the registry so repeated plans reuse
        # their compiled classes — the same win on a long-lived serving
        # cluster running a mixed query workload.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as raw-nanos
        # LONG session-wide; tables.table() applies the micros transform.
        # Set here so the semantics are fixed at session creation rather
        # than flipped mid-session by the first events read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Below Spark's 10MB default, not above it: the threshold compares
        # against compressed file size, and snappy parquet packs ~6x — a
        # "32MB" relation is ~200MB of rows hash-built single-threaded on
        # the driver. Worse, the estimate scales by PRUNED column fraction,
        # so at 8MB a 4-column projection of the fact table itself
        # (lineitem, 600k rows at sf0.1) qualified for broadcast and
        # Catalyst built the 600k-row hashed relation per join instead of
        # probing with it. 2MB keeps every true dimension (nation/region/
        # supplier/customer/part) broadcastable while orders/lineitem
        # projections shuffle-join. Re-measured across all 143 benched
        # queries at sf0.1 after the signature/index stores moved to
        # session-materialized parquet with explicit broadcast() hints on
        # their small probe sides: 2MB wins or ties on 141 of 143 (the
        # TPC-H block ~2x, the dedup/CC family up to 7x — their big
        # intermediates should never have been broadcast), and the two
        # regressions carry explicit hints now. An earlier 8MB choice was
        # protecting implicit broadcasts the stores no longer rely on. At
        # real scale relations outgrow any threshold and the SAME config
        # demotes them to shuffle joins — the adaptive behavior we want.
        .config("spark.sql.autoBroadcastJoinThreshold", str(2 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when a side is small enough
        # to hash per partition (stats < threshold x shuffle partitions):
        # skips the per-side sorts. Measured at sf0.1: TPC-H semi/anti
        # self-joins and the postings merge 10-30% faster, no regression
        # beyond noise. At real scale the same size gate fails and joins
        # fall back to sort-merge with its spill behavior — adaptive, not
        # a local-only hack.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # static conf: catalog tables (bucketed layouts) land outside the
        # repo; a cluster deployment points this at durable storage
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "bdi_warehouse"),
            ),
        )
    )
    spark = builder.getOrCreate()
    # Parquet write commit path (r10, guide §1.2 per-task work): commit
    # algorithm v2 moves task output to the destination at task commit
    # (one rename per file) instead of staging through the job-commit
    # directory (two renames), and the _SUCCESS marker is skipped —
    # nothing in this engine (or most production readers) consumes it.
    # v2 is the long-standing default on EMR and standard practice on
    # HDFS; the rename saving GROWS with file count at scale. Trade:
    # a mid-job failure can leave partial files in the destination —
    # every write in this engine targets a fresh store/temp directory
    # in overwrite mode, where that is harmless. Measured on the index
    # build (write_index, interleaved best-of-5 at sf0.1): 0.50 -> 0.41s.
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    hc.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    return spark


def tune_for_local_tests(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs for small local data (tests)."""
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # one scan task per ingest-re-chunked file (tables._build_table);
    # harmless for unchunked tiny files, never set on a real cluster
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    return spark
