"""Table catalog over the driver-materialized Parquet test tables.

The ten tables (TESTDATA.md) are plain Parquet files. Each is one
:class:`~bigdataindexing_spark.sources.store_dirs.SessionParquetStore`
(kind ``table_<name>``): its build re-chunks a big single-row-group file
into the store directory and records the scan path and the file schema;
its open reads that path with that schema, so no later read infers
anything from Parquet footers. :func:`table` is the store's handle and
:func:`table_view` its temp view. Scans stay lazy, so Catalyst gets full
pushdown (column pruning + predicate pushdown reach the Parquet scan —
verify with ``df.explain('formatted')``: look for ``PushedFilters`` /
``ReadSchema``).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdataindexing_spark.sources.store_dirs import SessionParquetStore

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})


# DataFrames persist()ed by operator builders (the multi-branch dedup /
# LSH relations that Spark would otherwise recompute per join branch).
# A builder cannot unpersist before its caller materializes the result,
# so pins accumulate; long-lived sessions call release_pinned() between
# queries (bench.py does; one-shot driver/test sessions don't need to).
# A release list, not a memo: nothing is ever served from it.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() a multiply-consumed relation and record it for release."""
    df = df.persist()
    _PINNED.append(df)
    return df


def pin_view(spark: SparkSession, sf_dir: str, tag: str, df: DataFrame) -> str:
    """:func:`pin` ``df`` and register it as the temp view
    ``bdi_<tag>_<hash>`` for a single-SQL builder; returns the name. The
    name is keyed by ``(applicationId, sf_dir)``, so two sf_dirs in one
    session never serve each other's relation."""
    view = f"bdi_{tag}_{abs(hash((spark.sparkContext.applicationId, sf_dir))) % 10**8}"
    pin(df).createOrReplaceTempView(view)
    return view


def release_pinned() -> int:
    """Unpersist every pin()ed relation; returns how many were released."""
    n = len(_PINNED)
    while _PINNED:
        _PINNED.pop().unpersist()
    return n


# --- ingest re-chunking -----------------------------------------------
# Parquet can only split across row groups, and the driver-generated test
# files are written as ONE row group — so a 600k-row lineitem scan (or the
# CPU-bound tokenize over documents) runs as a single task no matter how
# many cores the session has. Real multi-TB tables never look like this:
# they arrive as many files / many row groups and scans parallelize for
# free. Each table store's build restores that property locally: it
# re-chunks a big single-row-group file into N_CHUNK_FILES plain parquet
# files in the store directory (pure byte-level rewrite via pyarrow,
# schema and values untouched) and every scan reads the re-chunked copy.
# One-time cost ~0.5s for the whole sf0.1 directory; at real scale the
# gate below (multi-row-group or small file) makes this a no-op
# passthrough that scans the original file.
#
# Pair with spark.sql.files.maxPartitionBytes <= spark.sql.files.
# openCostInBytes (bench.py / tune_for_local_tests set 4m) so each chunk
# file maps to its own scan task instead of being bin-packed back into one.

_INGEST_MIN_BYTES = 512 * 1024  # below this a 1-task scan is already cheap
_INGEST_CHUNKS = {  # files ~= target scan parallelism per table
    "lineitem": 16,
    "orders": 8,
    "events": 8,
    "documents": 16,  # tokenize/shingle passes are CPU-bound per byte
    "embeddings": 8,
}

# events.ts may be Parquet TIMESTAMP(NANOS) (earlier test-data
# generations), which the vectorized reader rejects unless this is set.
# The conf is session-global and must STAY set: execution is lazy, so
# restoring it after a read would break the NANOS scan when it actually
# runs (also set in session.get_spark).
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _build_table(
    name: str, spark: SparkSession, sf_dir: str, path: str
) -> tuple[str, T.StructType]:
    """Re-chunk a big single-row-group ``name`` into ``path``; return the
    path to scan (``path``, or the original file) and the file schema."""
    src = f"{sf_dir}/{name}.parquet"
    scan = src
    if name in _INGEST_CHUNKS:
        try:
            import pyarrow.parquet as pq

            n_files = _INGEST_CHUNKS[name]
            if (
                os.path.getsize(src) >= _INGEST_MIN_BYTES
                # else already splittable — real-scale layout
                and pq.ParquetFile(src).metadata.num_row_groups < n_files
            ):
                tbl = pq.read_table(src)
                rows = tbl.num_rows
                step = max(1, -(-rows // n_files))
                for i, lo in enumerate(range(0, rows, step)):
                    pq.write_table(
                        tbl.slice(lo, step), f"{path}/part-{i:03d}.parquet"
                    )
                scan = path
        except Exception:
            scan = src  # unreadable via pyarrow: fall back to the original
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
    return scan, spark.read.parquet(src).schema


def _open_table(
    name: str, spark: SparkSession, _path: str, meta: tuple[str, T.StructType]
) -> DataFrame:
    scan, schema = meta
    df = spark.read.schema(schema).parquet(scan)
    return events_ts(spark, df) if name == "events" else df


def events_ts(spark: SparkSession, events: DataFrame) -> DataFrame:
    """The ``events.ts`` fix, for a batch or a streaming read of
    ``events``. With nanosAsLong set, a NANOS column reads as raw LONG
    nanos and is truncated to micros (exact integer division — matches
    duckdb's ns→us truncation); a MICROS column reads as a timestamp and
    passes through untouched, so both generations work."""
    spark.conf.set(_NANOS_AS_LONG, "true")
    if isinstance(events.schema["ts"].dataType, T.LongType):
        return events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # TIMESTAMP_NTZ generation: cast to session-time TIMESTAMP —
    # watermarks and window() require the LTZ type. The cast is only
    # value-preserving in a UTC session, so fail loudly instead of
    # silently shifting every event time.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT"):
        raise RuntimeError(
            f"events.ts NTZ->LTZ cast requires a UTC session, got "
            f"spark.sql.session.timeZone={tz!r}; build the session "
            "with bigdataindexing_spark.session.get_spark()"
        )
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


_TABLES = {
    name: SessionParquetStore(
        f"table_{name}", partial(_build_table, name), partial(_open_table, name)
    )
    for name in TABLE_NAMES
}


def _table_store(name: str) -> SessionParquetStore:
    if name not in _TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return _TABLES[name]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The session-bound DataFrame over one test table. A DataFrame is an
    immutable logical plan, so handing the same object to every builder
    is safe and skips the per-call footer read that schema discovery
    costs (~10-30ms x 10 tables x ~100 builder calls per sweep)."""
    return _table_store(name).df(spark, sf_dir)


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Temp-view name over :func:`table`, for single-SQL builders.

    A Column-API builder spends one py4j round-trip per transformation
    (hundreds per complex query, ~0.25 s of pure driver-side plan
    construction measured on the LSH builder); a ``spark.sql`` string is
    ONE round-trip and parses to the identical logical plan. The view
    wraps the session-bound DataFrame, so its already-resolved file
    index is reused — a ``parquet.`path``` reference would re-list the
    directory on every analysis."""
    return _table_store(name).view(spark, sf_dir)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The file schema of one test table, as its store recorded it: a
    reader given it (a stream over the original file) starts no job."""
    return _table_store(name).meta(spark, sf_dir)[1]


def spread(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism — ONLY for
    genuinely CPU-bound per-byte work (``heavy=True``: the Arrow-batched
    shingle/minhash pass).

    Parquet can only split across row groups, so a single-row-group file
    (like the driver test data) scans as ONE task. Repartitioning to fix
    that costs a full shuffle of the input, and measurement at sf0.1
    showed it LOSES or ties for everything except the mapInPandas
    signature pass (+0.3-0.4s per query on light aggregates, a wash for
    JVM tokenize/md5 paths — the downstream shuffle already spreads the
    work). Default is therefore a no-op passthrough that documents
    intent; ``heavy=True`` restores the fan-out, and only when the
    source has fewer files than cores — a properly laid-out big table
    passes through untouched either way, so this never adds a shuffle at
    real scale. The file count comes from the scan's FileIndex
    (``inputFiles``), not ``df.rdd.getNumPartitions()``: probing ``.rdd``
    converts the analyzed plan to an RDD on every builder call, pure
    driver-side planning waste."""
    if not heavy:
        return df
    sc = df.sparkSession.sparkContext
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan: treat as narrow
        n_files = 0
    if n_files < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def half_up_col(x, d: int):
    """Explicit half-up rounding of a positive Column to d decimals:
    FLOOR(x*10^d + 0.5)/10^d — the repo's ONE cross-engine rounding
    idiom (engine ROUND rules split on exact halves: Spark rounds via
    BigDecimal of the exact binary expansion, duckdb via float
    multiply-round, and they disagree on values like 10 + 1/20000).
    FLOOR of a <2^53 double is exact in every engine, so two engines
    holding the bit-identical input produce the bit-identical output.
    Positive inputs only (FLOOR half-up rounds negatives toward +inf —
    fine when both engines run the same text, but not ROUND-compatible).
    SQL strings inline the same formula via half_up_sql()."""
    from pyspark.sql import functions as F

    g = float(10**d)
    return F.floor(x * F.lit(g) + F.lit(0.5)) / F.lit(g)


def half_up_sql(expr: str, d: int) -> str:
    """The same half-up rounding as a SQL fragment — parsed identically
    by Spark SQL and duckdb (see half_up_col)."""
    return f"FLOOR(({expr}) * 1e{d} + 0.5) / 1e{d}"


def bounded_sort(df: DataFrame, *cols, barrier: bool = False) -> DataFrame:
    """Global sort for a BOUNDED-cardinality result (a grouped aggregate
    over a low-cardinality key, a ranked top-k, a filtered id set — any
    relation whose row count is capped by key cardinality, not data
    volume).

    A plain ``orderBy`` range-partitions: it runs a sampling job over the
    child to compute range bounds, then shuffles into N sorted
    partitions — the right machinery for corpus-sized output, pure
    overhead for a few hundred rows (two extra stages per query). A
    bounded result sorts in ONE partition with no sampling pass:
    ``coalesce(1)`` + in-partition sort. The upstream plan keeps its
    parallelism — coalesce only collapses the stage after the last
    shuffle (the final-aggregate read of a handful of groups).

    ``barrier=True`` inserts a single-partition EXCHANGE instead
    (``repartition(1)``): required when the input is a narrow no-shuffle
    pipeline (a scan-stage filter, a Python stage) that must stay
    parallel — coalesce would fold the whole pipeline into one task,
    and a bare sort would re-execute it in the range sampler.

    Column arguments may be names or Column expressions (e.g.
    ``F.col(c).desc()``). NEVER use this for data-proportional output —
    that is what range sort exists for."""
    one = df.repartition(1) if barrier else df.coalesce(1)
    return one.sortWithinPartitions(*cols)


def presort_barrier(df: DataFrame, *cols: str) -> DataFrame:
    """Hash exchange inserted between an expensive narrow pipeline and a
    global ORDER BY.

    Range-sort preparation SAMPLES its child to compute partition
    bounds; when the sort sits directly on a costly no-shuffle stage
    (tokenize/regex array math, an Arrow Python stage), that sampling
    pass re-executes the stage a second time — measured ~250ms extra on
    txt_repetition at sf0.1 and a full second Python round-trip on
    mapInPandas outputs. Shuffling the (small, already-projected) result
    first makes the sampler re-read shuffle bytes instead. Only worth it
    when the pre-sort stage dominates one extra small exchange; queries
    whose sort already sits above an aggregate/join exchange don't need
    it (the sampler re-reads that shuffle's output)."""
    return df.repartition(*[F.col(c) for c in cols])


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


# applicationId -> (sf_dir, names, handles) last registered, so repeated
# SQL builders against the same tables skip the 10 createOrReplaceTempView
# calls (driver-side catalog writes) on every invocation. It holds plain-
# named catalog views (``lineitem``, not a store's hashed name), which no
# store owns. The handles follow each table store: a rebuilt store or a
# sibling session's handle is a new object, so the views re-register.
_VIEWS_REGISTERED: dict[str, tuple] = {}


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register the test tables as temp views for ``spark.sql`` use."""
    app_id = spark.sparkContext.applicationId
    handles = [table(spark, sf_dir, name) for name in names]
    prev = _VIEWS_REGISTERED.get(app_id)
    if (
        prev is not None
        and prev[:2] == (sf_dir, tuple(names))
        and all(a is b for a, b in zip(prev[2], handles))
        # a view dropped from the catalog re-registers
        and all(spark.catalog.tableExists(n) for n in names)
    ):
        return
    for name, df in zip(names, handles):
        df.createOrReplaceTempView(name)
    _VIEWS_REGISTERED[app_id] = (sf_dir, tuple(names), handles)
