"""Storage-layout contracts: partition pruning and shuffle-free bucketed
joins — asserted at the PLAN level, with results cross-checked against the
unbucketed/unpartitioned formulations."""

from __future__ import annotations

import contextlib
import os
import io
import re

import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.sources.layout import (
    bucketed_join,
    read_orders_year,
    write_bucketed,
    write_partitioned_orders,
)
from bigdataindexing_spark.sources.store_dirs import STORES
from bigdataindexing_spark.tables import table


def _formatted_plan(df) -> str:
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_year")
    write_partitioned_orders(spark, sf_dir, out)
    df = read_orders_year(spark, out, 1995)
    plan = _formatted_plan(df)
    # the year predicate lands in PartitionFilters (directory pruning),
    # not in PushedFilters or a post-scan Filter
    assert re.search(r"PartitionFilters: \[isnotnull\(o_year#\d+\), \(o_year#\d+ = 1995\)\]", plan)
    expect = (
        table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .count()
    )
    assert df.count() == expect > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    write_bucketed(spark, sf_dir)
    df = bucketed_join(spark)
    plan = _formatted_plan(df)
    assert "SortMergeJoin" in plan
    # the join's input subtrees (below the SortMergeJoin node in the final
    # plan) must contain no Exchange: the bucket layout already co-locates
    # matching keys, so only the post-join agg/sort may shuffle
    final = plan.split("== Initial Plan ==")[0]
    below_join = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join
    # correctness: equals the plain-table join
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    expect = sorted(
        map(
            tuple,
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, df.collect()))
    assert got == expect


def test_ingest_rechunk_preserves_values(spark):
    """The ingest re-chunk (the ``table_lineitem`` store's build) must be a
    pure byte-level re-layout: same schema, same rows, more scan splits."""
    import pyarrow.parquet as pq

    from bigdataindexing_spark import tables as tbl

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("sf0.1 test data not present")
    raw = spark.read.parquet(f"{sf}/lineitem.parquet")
    chunked = tbl.table(spark, sf, "lineitem")
    path = STORES["table_lineitem"].meta(spark, sf)[0]
    assert path != f"{sf}/lineitem.parquet"  # big single-row-group file
    assert len(chunked.inputFiles()) == tbl._INGEST_CHUNKS["lineitem"]
    assert chunked.schema == raw.schema
    # order-independent exact content check: count + xor of full-row hashes
    # (a float SUM would differ by partial-sum order across layouts)
    probe = [
        F.count(F.lit(1)),
        F.min("l_orderkey"),
        F.max("l_orderkey"),
        F.expr("bit_xor(xxhash64(struct(*)))"),
    ]
    a = raw.agg(*probe).first()
    b = chunked.agg(*probe).first()
    assert tuple(a) == tuple(b)
    # small files and already-multi-row-group files pass through untouched
    assert STORES["table_nation"].meta(spark, sf)[0] == f"{sf}/nation.parquet"
    meta = pq.ParquetFile(path + "/part-000.parquet").metadata
    assert meta.num_rows <= 600000 // tbl._INGEST_CHUNKS["lineitem"] + 1


def test_sql_views_follow_a_rebuilt_table(spark, sf_dir, duck, monkeypatch):
    """``register_views`` must re-register its plain-named views when a
    table store rebuilds: a view kept over the handle of a reclaimed
    re-chunk directory reads files that are gone."""
    import shutil

    from bigdataindexing_spark import tables as tbl
    from bigdataindexing_spark.registry import all_specs
    from tests.oracle import compare

    spec = all_specs()["q34_sql_tpch_q3"]
    store = STORES["table_lineitem"]

    def reclaim():
        shutil.rmtree(store.dir(spark, sf_dir))

    monkeypatch.setattr(tbl, "_INGEST_MIN_BYTES", 0)
    try:
        reclaim()  # the rebuild re-chunks lineitem into the store directory
        assert store.meta(spark, sf_dir)[0] == store.dir(spark, sf_dir)
        for _ in range(2):
            result = compare(spec.builder(spark, sf_dir), duck, spec.oracle_text())
            assert result["match"], result
            reclaim()
    finally:
        monkeypatch.undo()
        reclaim()  # later tests scan lineitem as laid out by default


def test_sibling_session_reregisters_cached_views(spark, sf_dir):
    """Temp views are SESSION-scoped but the view caches key by
    applicationId: a sibling spark.newSession() shares the appId and a
    cache hit used to hand it a view name absent from its catalog
    (AnalysisException). Every cached-view helper must re-register on a
    catalog miss (ADVICE r4)."""
    from bigdataindexing_spark.operators.dedup import _SHINGLE_SIG
    from bigdataindexing_spark.registry import queries
    from bigdataindexing_spark.tables import table_view

    # prime the caches in the primary session
    v1 = table_view(spark, sf_dir, "documents")
    s1 = _SHINGLE_SIG.view(spark, sf_dir)
    assert spark.catalog.tableExists(v1) and spark.catalog.tableExists(s1)

    sibling = spark.newSession()
    assert sibling.sparkContext.applicationId == spark.sparkContext.applicationId
    assert not sibling.catalog.tableExists(v1)  # fresh catalog — the trap

    # cache hits must now re-register into the sibling's catalog
    assert table_view(sibling, sf_dir, "documents") == v1
    assert sibling.catalog.tableExists(v1)
    assert _SHINGLE_SIG.view(sibling, sf_dir) == s1
    assert sibling.catalog.tableExists(s1)

    # and a single-SQL store-served query runs end to end in the sibling
    rows = queries()["dedup_ngram_jaccard"](sibling, sf_dir).collect()
    assert len(rows) > 0


def test_dpp_star_join_prunes_at_runtime(spark, sf_dir):
    """q122: the dimension-attribute filter must reach the partitioned
    fact scan as a DYNAMIC pruning subquery — plan-time pruning cannot
    express it (the predicate lives on the dimension), so the scan's
    PartitionFilters must carry a dynamicpruning expression, and the
    values must equal the predicate-inlined twin."""
    from bigdataindexing_spark.registry import queries

    df = queries()["q122_dpp_star_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    got = sorted(map(tuple, df.collect()))
    o = table(spark, sf_dir, "orders")
    expect = sorted(
        map(
            tuple,
            o.filter(F.year("o_orderdate") % 2 == 0)
            .groupBy(F.year("o_orderdate").alias("y"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .collect(),
        )
    )
    assert got == expect
