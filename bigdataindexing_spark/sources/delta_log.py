"""The engine's one table log: Delta Lake transaction-log format (SURVEY.md
§2.9 X60).

Every versioned table in ``sources/`` — the two Delta test tables below,
the maintained layouts in ``sources/maintenance.py`` and the clustered /
Z-ordered layouts in ``sources/skipping.py`` — is a directory of parquet
data files plus a ``_delta_log/`` of versioned JSON commits, per the
PUBLIC Delta Lake protocol spec (delta-io/delta PROTOCOL.md): each commit
``<version padded to 20>.json`` is newline-delimited action objects —

- ``protocol``  {minReaderVersion, minWriterVersion}
- ``metaData``  {id, format{provider: parquet}, schemaString (Spark
  StructType JSON), partitionColumns, configuration, createdTime}
- ``add``       {path (relative), partitionValues, size,
  modificationTime, dataChange, stats (JSON string with numRecords /
  minValues / maxValues / nullCount — the data-skipping sidecar)}
- ``remove``    {path, deletionTimestamp, dataChange}
- ``txn``       {appId, version} — a streaming writer's idempotence mark

This module holds the log's whole contract, each piece once:

- :func:`commit` is the only writer of a commit file, and it is
  put-if-absent (write a temp file, then ``os.link``): a version another
  writer already committed raises :class:`ManifestConflictError` and is
  never overwritten.
- :func:`replay` is the only state reconstruction: the snapshot at
  version V is the add-file set after replaying commits 0..V (adds
  insert, removes delete and leave a tombstone — last action per path
  wins), its schema the latest ``metaData`` at or before V, and each
  file's stats typed by that schema.
- :func:`harvest` is the only stats harvester (Parquet footers, N
  columns keyed by name), and :func:`manifest_keep` the only pruner.
- :func:`read_snapshot` is the only snapshot reader; it scans an
  explicit file list through :func:`scan_files`, which raises on a
  vacuumed file and returns an empty relation with the log's schema when
  no file survives pruning. Readers never list the data directory.
- :func:`stream_sink` is the version-gated ``foreachBatch`` sink (st14's
  CDC apply and st18's Delta sink).

Parquet CHECKPOINTS are deliberately omitted: per the spec they are a
replay optimization, and these logs are a handful of commits long.

The session test table derives deterministically from ``documents``:

- v0 base write: file A (doc_id % 3 = 0, doc_id < 250) + file B
  (doc_id % 3 = 0, doc_id >= 250) — range-clustered so stats can prune;
- v1 append: file C (doc_id % 3 = 1);
- v2 delete: remove B, add B2 = B minus doc_id % 9 = 0 (copy-on-write
  delete, the remove+add pair Delta's DELETE emits).

Reference parity note: the reference app (shah-tejas/BigDataIndexing)
persists documents to Redis with no table format at all; this module is
part of the beyond-reference lakehouse surface VERDICT r9 called the
remaining depth gap ("no real Delta/Iceberg format compatibility").
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid
from decimal import Decimal
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore
from bigdataindexing_spark.tables import bounded_sort, table

DELTA_SPLIT = 250  # range boundary between files A and B
DELTA_READ_HI = 200  # skipping-query upper bound (prunes B/B2 by stats)


class ManifestConflictError(RuntimeError):
    """A concurrent writer committed the version this commit targeted.

    A commit is computed against the snapshot it read. When that
    snapshot's successor version is already taken, re-committing the same
    actions one version later could drop or resurrect the winner's files
    (a lost update), so the loser must re-read the log, re-apply its
    change and commit again — the re-validate step Delta/Iceberg force on
    snapshot-dependent commits. Only a blind append (adds only, which
    commute with anything) may simply retry at the next version."""


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "_delta_log", f"{version:020d}.json")


def log_versions(table_dir: str) -> list[int]:
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return []
    return sorted(int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json"))


def read_commit(table_dir: str, version: int) -> list[dict]:
    with open(_commit_path(table_dir, version)) as f:
        return [json.loads(line) for line in f]


def commit(table_dir: str, version: int, actions: list[dict]) -> None:
    """Write commit ``version`` — the only function that writes one.
    Write-temp-then-LINK makes it atomic AND put-if-absent: ``os.link``
    fails with EEXIST when the version is already committed (a rename
    would silently clobber it, breaking the invariant that committed
    versions are immutable to pinned readers)."""
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".{version:020d}.json.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, _commit_path(table_dir, version))
    except FileExistsError as exc:
        raise ManifestConflictError(
            f"version {version} in {table_dir} was committed concurrently; "
            "re-read the log, re-apply the change, and commit again"
        ) from exc
    finally:
        os.unlink(tmp)


def metadata_action(table_dir: str, schema: T.StructType) -> dict:
    """A ``metaData`` action; committing a new one evolves the schema."""
    return {
        "metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
    }


def table_header(table_dir: str, schema: T.StructType) -> list[dict]:
    """The actions commit 0 opens with: protocol, then metaData."""
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        metadata_action(table_dir, schema),
    ]


def remove_actions(paths: list[str]) -> list[dict]:
    ts = int(time.time() * 1000)
    return [
        {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
        for p in paths
    ]


# ---- stats: one harvester, one codec, one pruner ----------------------------


def stats_json(num_records: int, mins: dict, maxs: dict, nulls: dict) -> str:
    """An add action's ``stats`` string. Dates, timestamps and decimals
    are written in their ISO / decimal string forms; :func:`decode_stats`
    types them back by the log's schema."""
    return json.dumps(
        {
            "numRecords": num_records,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        default=str,
    )


def _footer_add(table_dir: str, path: str, cols: list[str]) -> dict:
    """The ``add`` action of one data file, its stats for ``cols`` read
    from the Parquet footer only — no data page is decoded."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    groups = [meta.row_group(g) for g in range(meta.num_row_groups)]
    mins, maxs, nulls = {}, {}, {}
    for col in cols:
        i = meta.schema.names.index(col)
        stats = [g.column(i).statistics for g in groups]
        if all(s is not None and s.has_null_count for s in stats):
            nulls[col] = sum(s.null_count for s in stats)
        # a row group holding a value but no min/max leaves the bounds unknown
        valued = [
            s for s, g in zip(stats, groups)
            if s is None or not s.has_null_count or s.null_count < g.num_rows
        ]
        if valued and all(s is not None and s.has_min_max for s in valued):
            mins[col] = min(s.min for s in valued)
            maxs[col] = max(s.max for s in valued)
    return {
        "path": os.path.relpath(path, table_dir),
        "partitionValues": {},
        "size": os.path.getsize(path),
        "modificationTime": int(os.path.getmtime(path) * 1000),
        "dataChange": True,
        "stats": stats_json(meta.num_rows, mins, maxs, nulls),
    }


def harvest(
    spark: SparkSession, table_dir: str, files: list[str], cols: list[str]
) -> list[dict]:
    """The footer harvester: one ``add`` action per data file, with
    numRecords and min/max/nullCount for ``cols`` keyed by column name.
    It runs on executors as one Arrow pass, one footer read per file, so
    its cost is O(files), independent of data volume. The stats keep the
    files' own types; nothing here declares them."""
    if not files:
        return []

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"add": [json.dumps(_footer_add(table_dir, f, cols)) for f in pdf["file"]]}
            )

    paths = spark.createDataFrame([(f,) for f in sorted(files)], "file string")
    return [json.loads(r["add"]) for r in paths.mapInPandas(gen, "add string").collect()]


def _typed(value, dtype: T.DataType):
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(value)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return dt.datetime.fromisoformat(value)
    if isinstance(dtype, T.DecimalType):
        return Decimal(str(value))
    if isinstance(dtype, T.IntegralType):
        return int(value)
    if isinstance(dtype, T.FractionalType):
        return float(value)
    return value


def decode_stats(stats: str | None, schema: T.StructType) -> dict:
    """An add action's stats with min/max typed by the log's schema, so
    pruning never compares strings ('9' > '10', ISO text vs a date)."""
    st = json.loads(stats) if stats else {}
    types = {f.name: f.dataType for f in schema.fields}

    def typed(values: dict | None) -> dict:
        return {
            c: _typed(v, types[c])
            for c, v in (values or {}).items()
            if c in types and v is not None
        }

    return {
        "numRecords": st.get("numRecords"),
        "minValues": typed(st.get("minValues")),
        "maxValues": typed(st.get("maxValues")),
        "nullCount": st.get("nullCount") or {},
    }


def _coerce_bound(bound, stat):
    """An ISO string bound takes the stat's date/timestamp type; other
    bounds are compared as given (numeric bounds against numeric stats)."""
    if isinstance(bound, str):
        if isinstance(stat, dt.datetime):
            return dt.datetime.fromisoformat(bound)
        if isinstance(stat, dt.date):
            return dt.date.fromisoformat(bound)
    return bound


def manifest_keep(entries: list[dict], ranges: dict) -> list[str]:
    """Paths of the files no ``{col: (lo, hi)}`` range can rule out.
    ``entries`` are a snapshot's files (typed stats, see :func:`replay`).
    A file is dropped only when some column's stats PROVE it disjoint:
    its min is above ``hi`` or its max below ``lo``. An absent bound
    proves nothing, so a file with absent or one-sided stats is kept on
    that side — dropping an unproven file would change results."""

    def disjoint(e: dict, col: str, lo, hi) -> bool:
        mn, mx = e["minValues"].get(col), e["maxValues"].get(col)
        return (mn is not None and mn > _coerce_bound(hi, mn)) or (
            mx is not None and mx < _coerce_bound(lo, mx)
        )

    return [
        e["path"]
        for e in entries
        if not any(disjoint(e, c, lo, hi) for c, (lo, hi) in ranges.items())
    ]


# ---- replay and read ------------------------------------------------------------


class Snapshot(NamedTuple):
    version: int
    schema: T.StructType
    # live files, path-sorted: {"path", "numRecords", "minValues",
    # "maxValues", "nullCount"} with the stats typed by ``schema``
    files: list[dict]
    # paths removed at or before ``version`` and not re-added since
    tombstones: set[str]


def replay(table_dir: str, version: int | None = None) -> Snapshot:
    """Delta state reconstruction through ``version`` (default: latest).
    Raises on a version the log does not hold (never a partial read)."""
    versions = log_versions(table_dir)
    if version is None and versions:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in the log (have {versions})")
    live: dict[str, dict] = {}
    tombstones: set[str] = set()
    meta = None
    for v in versions[: versions.index(version) + 1]:
        for action in read_commit(table_dir, v):
            if "add" in action:
                live[action["add"]["path"]] = action["add"]
                tombstones.discard(action["add"]["path"])
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
                tombstones.add(action["remove"]["path"])
            elif "metaData" in action:
                meta = action["metaData"]
    if meta is None:
        raise ValueError(f"no metaData action in {table_dir} through v{version}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    files = [
        dict(decode_stats(live[p].get("stats"), schema), path=p) for p in sorted(live)
    ]
    return Snapshot(version, schema, files, tombstones)


def scan_files(
    spark: SparkSession, table_dir: str, paths: list[str], schema: T.StructType
) -> DataFrame:
    """Scan exactly ``paths`` (relative to the table) under the log's
    schema — no footer-inference pass, and files written before a schema
    evolution read NULL for the newer columns. Raises FileNotFoundError on
    a vacuumed file instead of letting Spark skip it (a partial snapshot
    is corruption, not a smaller result); no paths is an empty relation."""
    files = [os.path.join(table_dir, p) for p in paths]
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"snapshot references {len(missing)} vacuumed/missing file(s), "
            f"e.g. {missing[0]!r} — this version is beyond the vacuum "
            "retention horizon"
        )
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    ranges: dict | None = None,
) -> DataFrame:
    """The snapshot reader: DataFrame over a version's live files, with
    ``ranges`` ({col: (lo, hi)}) pruning files by their stats BEFORE the
    scan (Delta data skipping)."""
    snap = replay(table_dir, version)
    keep = manifest_keep(snap.files, ranges or {})
    return scan_files(spark, table_dir, keep, snap.schema)


def open_latest(spark: SparkSession, table_dir: str, _meta) -> DataFrame:
    """A log-backed store's handle: the latest snapshot, never a scan of
    the data directory (which may still hold removed files)."""
    return read_snapshot(spark, table_dir)


def stream_sink(table_dir: str, app_id: str, base_version: int, write_batch):
    """The version-gated ``foreachBatch`` sink: micro-batch ``b`` commits
    version ``base_version + 1 + b`` — a ``txn`` {appId, version: b}
    action plus the actions ``write_batch(batch_df, b)`` returns. A
    replayed batch finds its version already committed and returns before
    writing anything, so the sink is exactly-once however often the
    source replays (the protocol's writer idempotence, with the log as
    the ledger)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        version = base_version + 1 + int(batch_id)
        if os.path.exists(_commit_path(table_dir, version)):
            return  # replayed batch: version already committed
        txn = {"txn": {"appId": app_id, "version": int(batch_id)}}
        commit(table_dir, version, [txn] + write_batch(batch_df, int(batch_id)))

    return apply


# ---- the Delta test tables -------------------------------------------------------


def _write_parts(spark: SparkSession, table_dir: str, parts: dict) -> list[dict]:
    """Write each ``{name: df}`` as the one data file ``name`` through the
    staged commit and return the ``add`` actions of the non-empty ones."""
    from bigdataindexing_spark.sources.maintenance import _commit_files

    files = []
    for name, df in parts.items():
        # coalesce(1): one staged file, or none for an empty split
        for f in _commit_files(
            table_dir, lambda d: df.coalesce(1).write.mode("overwrite").parquet(d)
        ):
            files.append(os.path.join(table_dir, name))
            os.replace(f, files[-1])
    adds = harvest(spark, table_dir, files, ["doc_id"])
    return [{"add": a} for a in adds if json.loads(a["stats"])["numRecords"]]


def _build_delta_table(spark: SparkSession, sf_dir: str, table_dir: str) -> None:
    """The deterministic 3-commit test table."""
    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    parts = {
        "part-a.parquet": base.filter(F.col("doc_id") < DELTA_SPLIT),
        "part-b.parquet": base.filter(F.col("doc_id") >= DELTA_SPLIT),
    }
    commit(
        table_dir,
        0,
        table_header(table_dir, docs.schema) + _write_parts(spark, table_dir, parts),
    )
    c = {"part-c.parquet": docs.filter(F.col("doc_id") % 3 == 1)}
    commit(table_dir, 1, _write_parts(spark, table_dir, c))
    # copy-on-write DELETE: remove B, add the rewritten survivor file
    b2 = {
        "part-b2.parquet": base.filter(
            (F.col("doc_id") >= DELTA_SPLIT) & (F.col("doc_id") % 9 != 0)
        )
    }
    commit(
        table_dir,
        2,
        remove_actions(["part-b.parquet"]) + _write_parts(spark, table_dir, b2),
    )


_DELTA_TABLE = SessionParquetStore("delta_tbl", _build_delta_table, open_latest)


_LATEST_PRED = (
    "((doc_id % 3 = 0 AND (doc_id < 250 OR doc_id % 9 <> 0)) "
    "OR doc_id % 3 = 1)"
)


@register(
    "src_delta_read",
    oracle="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents "
    f"WHERE {_LATEST_PRED} GROUP BY lang ORDER BY lang",
    tags=("source", "layout", "delta", "serve"),
    doc="Read the LATEST snapshot of an actual Delta-log-format table "
    "(parquet data files + _delta_log JSON action commits per the "
    "public delta-io PROTOCOL.md): state reconstruction replays "
    "add/remove actions across the 3-commit log (base write, append, "
    "copy-on-write delete), and the aggregate over the resolved file "
    "set must equal the oracle's recompute of the same predicate "
    "over the source table — proving the log, not the directory "
    "listing, is the authority.",
)
def src_delta_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = _DELTA_TABLE.df(spark, sf_dir)
    out = snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    return bounded_sort(out, "lang")


@register(
    "src_delta_time_travel",
    oracle=(
        "SELECT CAST(0 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents WHERE doc_id % 3 = 0 "
        "UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) "
        "FROM documents WHERE doc_id % 3 IN (0, 1) "
        "UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) "
        f"FROM documents WHERE {_LATEST_PRED} ORDER BY version"
    ),
    tags=("source", "layout", "delta", "serve"),
    doc="Delta-protocol time travel: a reader pinned to commit V replays "
    "the action log only through V — v0 sees the base files, v1 adds "
    "the append, v2 applies the remove+add delete pair; each snapshot's "
    "aggregate must match the oracle's per-version predicate. Version "
    "resolution is pure log replay (sorted commit files, last action "
    "per path wins) — the Delta state-reconstruction contract on the "
    "real wire format, the same log src_layout_time_travel's "
    "maintained layout commits to.",
)
def src_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _DELTA_TABLE.dir(spark, sf_dir)
    # ONE shared scan serves all three versions (guide §2.3/§2.4 — the
    # q125 shared-scan discipline): the three snapshots' live-file sets
    # overlap heavily (v0 ⊂ v1 up to the delete rewrite), so instead of
    # three scans + three single-partition aggregates (6 stages), read
    # the UNION of live files once, tag each row with its source file
    # (_metadata.file_name — resolved at scan time, no extra pass), and
    # fold per-version membership into conditional aggregates. The log
    # replay per version is unchanged (pure metadata); only the data
    # access is shared. Result is bit-identical: count over a version's
    # file set == count_if(file ∈ set) over the union scan.
    snaps = {v: replay(table_dir, v) for v in (0, 1, 2)}
    files_by_v = {v: {f["path"] for f in s.files} for v, s in snaps.items()}
    all_files = sorted(set().union(*files_by_v.values()))
    scan = scan_files(spark, table_dir, all_files, snaps[2].schema).select(
        "n_chars",
        # an empty union scan has no file metadata; no row needs it then
        (F.col("_metadata.file_name") if all_files else F.lit(None)).alias("_fn"),
    )
    aggs = []
    for v in (0, 1, 2):
        member = F.col("_fn").isin(sorted(files_by_v[v])) if files_by_v[v] else F.lit(False)
        aggs.append(F.count_if(member).alias(f"n{v}"))
        aggs.append(F.sum(F.when(member, F.col("n_chars"))).alias(f"c{v}"))
    out = scan.agg(*aggs).select(
        F.expr(
            "stack(3, CAST(0 AS INT), n0, c0, CAST(1 AS INT), n1, c1, "
            "CAST(2 AS INT), n2, c2) AS (version, n_docs, chars)"
        )
    )
    return bounded_sort(out, "version")


@register(
    "src_delta_skipping",
    oracle="SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents "
    f"WHERE {_LATEST_PRED} AND doc_id <= {DELTA_READ_HI}",
    tags=("source", "layout", "delta", "serve"),
    doc="Delta data skipping off the add-actions' stats JSON: a "
    "doc_id <= 200 read prunes the high-range file (minValues 250+) "
    "from the file list BEFORE any scan — tests/test_delta_log.py pins "
    "that the pruned plan reads strictly fewer files than the snapshot "
    "holds while the aggregate still matches the oracle. The stats "
    "sidecar lives in the commit log exactly as Delta writes it, so at "
    "100 TB the skip decision is O(log) metadata, no footer reads.",
)
def src_delta_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _DELTA_TABLE.dir(spark, sf_dir)
    snap = read_snapshot(spark, table_dir, ranges={"doc_id": (0, DELTA_READ_HI)})
    out = snap.filter(F.col("doc_id") <= DELTA_READ_HI).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    return bounded_sort(out, "n_docs")


# --- Streaming Delta-log sink (st18, round 10) --------------------------------
# The lakehouse streaming-write pattern on the log: each micro-batch
# appends one commit through stream_sink, the version gate st14's CDC
# apply shares; exactly-once under source replay comes from the
# protocol's writer-idempotence mechanism (a txn action per commit plus
# put-if-absent, version-gated commit files).

ST18_APP_ID = "bdi-st18-delta-sink"


def delta_stream_sink_batch(table_dir: str, base_version: int):
    """foreachBatch fn: commit micro-batch ``b`` as version
    ``base_version + 1 + b``, adding its rows as ``part-s<b>.parquet``."""
    return stream_sink(
        table_dir,
        ST18_APP_ID,
        base_version,
        lambda df, b: _write_parts(
            df.sparkSession, table_dir, {f"part-s{b}.parquet": df}
        ),
    )


def _build_stream_delta_table(spark: SparkSession, sf_dir: str, table_dir: str) -> str:
    """v0 base write (doc_id % 4 = 0), then a 3-arrival stream appends
    the other residues through the exactly-once sink; final table =
    every document. Returns the arrival directory (the replay input),
    kept inside the table directory so it goes when the store does."""
    from bigdataindexing_spark.streaming.core import (
        run_foreach_batch,
        write_arrivals,
    )

    docs = table(spark, sf_dir, "documents")
    base = {"part-base.parquet": docs.filter(F.col("doc_id") % 4 == 0)}
    commit(
        table_dir,
        0,
        table_header(table_dir, docs.schema) + _write_parts(spark, table_dir, base),
    )
    src = os.path.join(table_dir, "_arrivals")
    write_arrivals(
        [docs.filter(F.col("doc_id") % 4 == r) for r in (1, 2, 3)], src
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_foreach_batch(
        stream,
        delta_stream_sink_batch(table_dir, 0),
        os.path.join(table_dir, "_checkpoint"),
    )
    return src


_STREAM_DELTA_TABLE = SessionParquetStore(
    "delta_stream_tbl", _build_stream_delta_table, open_latest
)


@register(
    "st18_stream_delta_sink",
    oracle="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents "
    "GROUP BY lang ORDER BY lang",
    bench=False,  # streaming-maintenance family (st13/st14/st17): the
    # drain+commit lifecycle is not comparable to the oracle's aggregate
    tags=("streaming", "source", "layout", "delta", "ops"),
    doc="Streaming Delta-log sink, exactly-once: every micro-batch "
    "commits one version to the _delta_log (add action + the protocol's "
    "txn {appId, version} writer-idempotence marker), and the commit is "
    "version-gated — a replayed batch finds its commit file already "
    "present and skips, so however many times the file source replays, "
    "the log gains exactly one commit per batch "
    "(tests/test_delta_log.py pins this with a fresh-checkpoint double "
    "drain, the same gate st14's CDC apply commits through). The final "
    "snapshot (base write + 3 streamed arrivals) must reproduce the "
    "whole-corpus aggregate, and every intermediate version stays "
    "time-travel readable.",
)
def st18_stream_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = _STREAM_DELTA_TABLE.df(spark, sf_dir)
    out = snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    return bounded_sort(out, "lang")
