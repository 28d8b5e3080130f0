"""File-level min/max skipping: the manifest must actually prune files,
and pruning must not change results (same contract as salting: a pure
execution/I-O change)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataindexing_spark.sources import skipping
from bigdataindexing_spark.tables import table


def test_manifest_covers_every_file(spark, sf_dir):
    import os

    layout = skipping._CLUSTERED.dir(spark, sf_dir)
    files = [f for f in os.listdir(layout) if f.endswith(".parquet")]
    manifest = skipping.file_stats_manifest(
        spark, [os.path.join(layout, f) for f in files], "l_shipdate", "date"
    )
    rows = manifest.collect()
    assert len(rows) == len(files)
    total = sum(r["num_rows"] for r in rows)
    assert total == table(spark, sf_dir, "lineitem").count()
    assert all(r["min_v"] <= r["max_v"] for r in rows)


def test_range_query_prunes_files(spark, sf_dir):
    keep, total = skipping.pruned_files(
        spark, sf_dir, skipping.SKIP_LO, skipping.SKIP_HI
    )
    # the clustered layout puts a 3-month slice of a ~7-year domain in a
    # strict subset of the files
    assert 0 < len(keep) < total


def test_typed_bounds_never_compare_lexicographically():
    # regression: int stats with numeric bounds — '9' > '10' as strings,
    # but the file overlaps [10, 20] and must be kept
    manifest = [{"file": "x", "min_v": 9, "max_v": 100}]
    assert skipping.manifest_keep(manifest, 10, 20) == ["x"]
    assert skipping.manifest_keep_multi(
        [{"file": "x", "min_0": 9, "max_0": 100}], [(0, 10, 20)]
    ) == ["x"]


def test_absent_stats_never_pruned():
    manifest = [
        {"file": "a", "min_v": "1995-01-01", "max_v": "1995-03-31"},
        {"file": "b", "min_v": None, "max_v": None},
        {"file": "c", "min_v": "1996-01-01", "max_v": "1996-03-31"},
    ]
    keep = skipping.manifest_keep(manifest, "1995-02-01", "1995-02-28")
    assert keep == ["a", "b"]  # b unproven -> kept; c proven-out -> pruned


def test_manifest_cached_with_layout(spark, sf_dir):
    # planning consults the cached manifest: no new Spark job per query
    skipping._CLUSTERED.meta(spark, sf_dir)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    skipping.pruned_files(spark, sf_dir, skipping.SKIP_LO, skipping.SKIP_HI)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert before == after


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    import datetime as dt

    manifest = skipping._ZORDER.meta(spark, sf_dir)
    date_pred = (
        0,
        dt.date.fromisoformat(skipping.ZQ_DATE_LO),
        dt.date.fromisoformat(skipping.ZQ_DATE_HI),
    )
    qty_pred = (1, skipping.ZQ_QTY_LO, skipping.ZQ_QTY_HI)
    total = len(manifest)
    both = skipping.manifest_keep_multi(manifest, [date_pred, qty_pred])
    qty_only = skipping.manifest_keep_multi(manifest, [qty_pred])
    assert 0 < len(both) < total
    # the second dimension prunes BY ITSELF on the z-layout...
    assert len(qty_only) < total
    # ...which a single-column (date-clustered) layout can never do:
    # every date-clustered file spans the full quantity domain
    import os

    layout = skipping._CLUSTERED.dir(spark, sf_dir)
    files = [
        os.path.join(layout, f)
        for f in os.listdir(layout)
        if f.endswith(".parquet")
    ]
    date_manifest = [
        r.asDict()
        for r in skipping.file_stats_manifest_multi(
            spark, files, ["l_shipdate", "l_quantity"], ["date", "double"]
        ).collect()
    ]
    nonempty = [m for m in date_manifest if m["num_rows"] > 0]
    assert len(skipping.manifest_keep_multi(nonempty, [qty_pred])) == len(
        nonempty
    )


def test_zorder_result_equals_full_scan(spark, sf_dir):
    pruned = skipping.q112_zorder_skipping(spark, sf_dir).collect()
    full = (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between(
                F.lit(skipping.ZQ_DATE_LO), F.lit(skipping.ZQ_DATE_HI)
            )
            & F.col("l_quantity").between(
                F.lit(skipping.ZQ_QTY_LO), F.lit(skipping.ZQ_QTY_HI)
            )
        )
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
    assert pruned == full


def test_pruned_result_equals_full_scan(spark, sf_dir):
    pruned = skipping.q111_minmax_skipping(spark, sf_dir).collect()
    full = (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between(
                F.lit(skipping.SKIP_LO), F.lit(skipping.SKIP_HI)
            )
        )
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
    assert pruned == full
