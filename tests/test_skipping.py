"""File-level min/max skipping: the log's stats must actually prune files,
and pruning must not change results (same contract as salting: a pure
execution/I-O change)."""

from __future__ import annotations

import datetime as dt
import os

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdataindexing_spark.sources import skipping
from bigdataindexing_spark.sources.delta_log import (
    decode_stats,
    harvest,
    manifest_keep,
    replay,
    stats_json,
)
from bigdataindexing_spark.tables import table
from tests.jobs import newest_job

SHIP = {"l_shipdate": (skipping.SKIP_LO, skipping.SKIP_HI)}


def _files(layout: str) -> list[str]:
    return sorted(
        os.path.join(layout, f) for f in os.listdir(layout) if f.endswith(".parquet")
    )


def test_manifest_covers_every_file(spark, sf_dir):
    layout = skipping._CLUSTERED.dir(spark, sf_dir)
    files = _files(layout)
    snap = replay(layout)
    # the log adds every file the layout holds, with its harvested stats
    assert [os.path.join(layout, f["path"]) for f in snap.files] == files
    adds = harvest(spark, layout, files, ["l_shipdate"])
    assert len(adds) == len(files)
    rows = [decode_stats(a["stats"], snap.schema) for a in adds]
    total = sum(r["numRecords"] for r in rows)
    assert total == table(spark, sf_dir, "lineitem").count()
    assert all(
        r["minValues"]["l_shipdate"] <= r["maxValues"]["l_shipdate"] for r in rows
    )


def test_range_query_prunes_files(spark, sf_dir):
    snap = replay(skipping._CLUSTERED.dir(spark, sf_dir))
    keep = manifest_keep(snap.files, SHIP)
    # the clustered layout puts a 3-month slice of a ~7-year domain in a
    # strict subset of the files
    assert 0 < len(keep) < len(snap.files)


def _entry(path, mins, maxs):
    return {"path": path, "minValues": mins, "maxValues": maxs}


def test_typed_bounds_never_compare_lexicographically():
    # regression: int stats with numeric bounds — '9' > '10' as strings,
    # but the file overlaps [10, 20] and must be kept
    assert manifest_keep([_entry("x", {"c": 9}, {"c": 100})], {"c": (10, 20)}) == ["x"]
    # the same stats read back from the log's JSON are typed by its schema
    schema = T.StructType([T.StructField("c", T.LongType())])
    stats = decode_stats('{"minValues": {"c": "9"}, "maxValues": {"c": "100"}}', schema)
    assert manifest_keep([dict(stats, path="x")], {"c": (10, 20)}) == ["x"]


def test_absent_stats_never_pruned():
    d = dt.date.fromisoformat
    col = "l_shipdate"
    entries = [
        _entry("a", {col: d("1995-01-01")}, {col: d("1995-03-31")}),
        _entry("b", {}, {}),
        _entry("c", {col: d("1996-01-01")}, {col: d("1996-03-31")}),
    ]
    keep = manifest_keep(entries, {col: ("1995-02-01", "1995-02-28")})
    assert keep == ["a", "b"]  # b unproven -> kept; c proven-out -> pruned


def test_manifest_cached_with_layout(spark, sf_dir):
    # planning replays the log: no new Spark job per query
    layout = skipping._CLUSTERED.dir(spark, sf_dir)
    before = newest_job(spark)
    manifest_keep(replay(layout).files, SHIP)
    assert newest_job(spark) == before


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    files = replay(skipping._ZORDER.dir(spark, sf_dir)).files
    date_pred = {"l_shipdate": (skipping.ZQ_DATE_LO, skipping.ZQ_DATE_HI)}
    qty_pred = {"l_quantity": (skipping.ZQ_QTY_LO, skipping.ZQ_QTY_HI)}
    total = len(files)
    both = manifest_keep(files, {**date_pred, **qty_pred})
    qty_only = manifest_keep(files, qty_pred)
    assert 0 < len(both) < total
    # the second dimension prunes BY ITSELF on the z-layout...
    assert len(qty_only) < total
    # ...which a single-column (date-clustered) layout can never do:
    # every date-clustered file spans the full quantity domain
    layout = skipping._CLUSTERED.dir(spark, sf_dir)
    schema = replay(layout).schema
    date_files = [
        dict(decode_stats(a["stats"], schema), path=a["path"])
        for a in harvest(spark, layout, _files(layout), ["l_shipdate", "l_quantity"])
    ]
    nonempty = [f for f in date_files if f["numRecords"] > 0]
    assert len(manifest_keep(nonempty, qty_pred)) == len(nonempty)


def _full_scan(spark, sf_dir, date_lo, date_hi, pred):
    """The registered queries' aggregate, recomputed over the full table."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between(F.lit(date_lo), F.lit(date_hi)) & pred)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount").cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
        .collect()
    )


def test_zorder_result_equals_full_scan(spark, sf_dir):
    pruned = skipping.q112_zorder_skipping(spark, sf_dir).collect()
    qty = F.col("l_quantity").between(
        F.lit(skipping.ZQ_QTY_LO), F.lit(skipping.ZQ_QTY_HI)
    )
    full = _full_scan(spark, sf_dir, skipping.ZQ_DATE_LO, skipping.ZQ_DATE_HI, qty)
    assert pruned == full


def test_zorder_read_pruning_every_file_is_empty(spark, sf_dir, monkeypatch):
    """A quantity range outside the data prunes every file: the query
    reads the snapshot reader's empty relation (with the log's schema)
    and returns no rows, instead of failing on the empty file list."""
    monkeypatch.setattr(skipping, "ZQ_QTY_LO", 1000)
    monkeypatch.setattr(skipping, "ZQ_QTY_HI", 2000)
    files = replay(skipping._ZORDER.dir(spark, sf_dir)).files
    assert manifest_keep(files, {"l_quantity": (1000, 2000)}) == []
    assert skipping.q112_zorder_skipping(spark, sf_dir).collect() == []


def test_pruned_result_equals_full_scan(spark, sf_dir):
    pruned = skipping.q111_minmax_skipping(spark, sf_dir).collect()
    full = _full_scan(spark, sf_dir, skipping.SKIP_LO, skipping.SKIP_HI, F.lit(True))
    assert pruned == full


# ---- the pruner, property-tested without Spark ------------------------------

_DAY0 = dt.date(1995, 1, 1)
_KINDS = {
    "d": (T.DateType(), st.integers(0, 60).map(lambda n: _DAY0 + dt.timedelta(days=n))),
    "x": (
        T.DoubleType(),
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
    ),
}
_SCHEMA = T.StructType([T.StructField(c, t) for c, (t, _) in _KINDS.items()])


@st.composite
def _file(draw):
    """One file: per column its values (NULLs included) and which of its
    true min/max the stats record (both, one side, or neither)."""
    values, mins, maxs = {}, {}, {}
    for c, (_, vals) in _KINDS.items():
        values[c] = draw(st.lists(st.one_of(st.none(), vals), max_size=6))
        present = [v for v in values[c] if v is not None]
        keep_min, keep_max = draw(st.booleans()), draw(st.booleans())
        if present and keep_min:
            mins[c] = min(present)
        if present and keep_max:
            maxs[c] = max(present)
    return values, mins, maxs


@st.composite
def _ranges(draw):
    out = {}
    for c in draw(st.sets(st.sampled_from(sorted(_KINDS)), min_size=1)):
        lo, hi = sorted([draw(_KINDS[c][1]), draw(_KINDS[c][1])])
        out[c] = (lo, hi)
    return out


@settings(max_examples=300, deadline=None)
@given(files=st.lists(_file(), max_size=6), ranges=_ranges())
def test_manifest_keep_property(files, ranges):
    """Round-trip random per-file stats through the log's JSON, then:
    no file that holds a matching row is dropped, and a file whose stats
    are complete is kept exactly when its [min, max] overlaps every
    range (the brute-force check)."""
    entries = [
        dict(decode_stats(stats_json(0, mins, maxs, {}), _SCHEMA), path=str(i))
        for i, (_, mins, maxs) in enumerate(files)
    ]
    keep = set(manifest_keep(entries, ranges))
    for i, (values, mins, maxs) in enumerate(files):
        n = max((len(v) for v in values.values()), default=0)
        rows = [
            {c: (v[r] if r < len(v) else None) for c, v in values.items()}
            for r in range(n)
        ]
        matches = any(
            all(row[c] is not None and lo <= row[c] <= hi for c, (lo, hi) in ranges.items())
            for row in rows
        )
        if matches:
            assert str(i) in keep
        if all(c in mins and c in maxs for c in ranges):
            overlaps = all(mins[c] <= hi and maxs[c] >= lo for c, (lo, hi) in ranges.items())
            assert (str(i) in keep) == overlaps
