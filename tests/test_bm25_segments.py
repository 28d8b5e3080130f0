"""BM25 over tiny NULL-bearing corpora: the segment-summed serves equal a
global recompute.

Each case writes a 12-document corpus under ``tmp_path`` (documents 8 and
9 fall in the delta segment) and runs the four BM25 queries — the inline
search, the served index, the incremental serve over the base and delta
segments, and the MaxScore top-k — against their registered duckdb
oracles and against each other. A NULL ``text`` has no length, so avgdl
must divide by the non-NULL length count, as duckdb's AVG does; an empty
``text`` is one empty token of length 1.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdataindexing_spark.index.search import (
    BM25_INC_TERMS,
    MAXSCORE_K,
    MAXSCORE_TERMS,
    search_index_table,
)
from bigdataindexing_spark.registry import all_specs
from tests.oracle import canon_rows, duckdb_result, spark_result

QUERIES = (
    "idx_bm25_search",
    "idx_bm25_serve",
    "idx_bm25_incremental_serve",
    "idx_maxscore_topk",
)
BASE = {
    0: "spark data stream",
    1: "spark spark data filter merge",
    2: "data scan scan merge stream stream",
    3: "spark stream filter data data data",
    4: "merge merge scan",
    5: "the spark engine reads data",
    6: "stream processing with spark",
    7: "scan merge data",
    8: "filter stream dup data",
    9: "dup dup scan spark",
    10: "data filter",
    11: "spark",
}
CASES = {
    "null_text": {6: None},
    "empty_text": {6: ""},
    # 'filter' (an incremental-serve term) occurs only in delta doc 8,
    # as does 'dup' (a MaxScore term) in every case
    "delta_only_term": {
        1: "spark spark data merge",
        3: "spark stream data data data",
        10: "data",
    },
}


def _ranked(df) -> list:
    return canon_rows(*spark_result(df), sort_rows=False)


@pytest.mark.parametrize("case", sorted(CASES))
def test_bm25_queries_agree_on_tiny_corpus(spark, tmp_path, case):
    sf = str(tmp_path / case)
    docs = sorted({**BASE, **CASES[case]}.items())
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    specs = all_specs()
    got = {}
    for name in QUERIES:
        got[name] = _ranked(specs[name].builder(spark, sf))
        expected = canon_rows(
            *duckdb_result(con, specs[name].oracle_text()), sort_rows=False
        )
        assert got[name] == expected, name
        assert got[name], f"{name}: empty result"

    # the inline scorer and the served index agree, and the segment sums
    # and the pruned top-k equal unpruned sums over the all-documents index
    assert got["idx_bm25_search"] == got["idx_bm25_serve"]
    impacts = search_index_table(spark, sf, "term_impacts")

    def unpruned(terms, k: int) -> list:
        return _ranked(
            impacts.filter(F.col("token").isin(list(terms)))
            .groupBy("doc_id")
            .agg(F.round(F.sum("w"), 4).alias("score"))
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(k)
        )

    assert got["idx_bm25_incremental_serve"] == unpruned(BM25_INC_TERMS, 10)
    assert got["idx_maxscore_topk"] == unpruned(MAXSCORE_TERMS, MAXSCORE_K)
