"""Inverted-index build (SURVEY.md §2.9 X5) — the reference's core purpose
(async Elasticsearch indexing, IndexingListener.java:115–125) re-expressed
as a batch DataFrame job producing Parquet index tables.

One unit of index, the **segment** (:func:`write_segment`), written as
four named tables under one directory:
- ``term_rows(token, doc_id, tf)`` — the flat form term lookups and
  scorers join on;
- ``postings(token, df, doc_ids)`` — one row per token with document
  frequency and the sorted posting list;
- ``doclens(doc_id, dl)`` — token count per document (NULL for a NULL
  text);
- ``stats(n_docs, n_dl, sum_dl)`` — one additive row: document count,
  non-NULL length count and length sum. Segments over disjoint documents
  sum row-wise, and ``avgdl = sum_dl / n_dl`` keeps AVG's NULL semantics
  (:func:`corpus_stats`).

BM25 is defined here once: :func:`bm25_weight` is the per-posting weight
as Spark SQL text, and :func:`bm25_oracle` the duckdb query it is checked
against.

Scale notes: the explode→groupBy is one fully-codegen'd shuffle keyed by
(token, doc) with map-side combine. (A zero-shuffle row-local
sort+run-length formulation via higher-order array functions was
measured 3.5x SLOWER at sf0.1 — Spark's higher-order functions are
CodegenFallback, i.e. interpreted per row — so the shuffle stays.)
The term_rows write adds exactly ONE more shuffle, the repartition on
token, which its sorted write reuses. Writes are
``sortWithinPartitions(token)`` so Parquet row-group statistics give
term-lookup skipping at serve time (the Spark-native analogue of the
reference's ES inverted index).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.functions.text import tokens
from bigdataindexing_spark.sources.store_dirs import write_store

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_weight(tf: str = "tf", df: str = "df") -> str:
    """The BM25 weight of one posting (Lucene's ln(1+(N-df+.5)/(df+.5))
    idf), as Spark SQL text over the columns ``tf``, ``df``, ``n_docs``,
    ``dl`` and ``avgdl``. Every Spark scorer uses this one text, so their
    ``w`` agree bit for bit."""
    return (
        f"ln(1 + (n_docs - {df} + 0.5D) / ({df} + 0.5D)) "
        f"* ({tf} * {BM25_K1 + 1}D) "
        f"/ ({tf} + {BM25_K1}D * ({1 - BM25_B}D + {BM25_B}D * dl / avgdl))"
    )


def bm25_oracle(terms, k: int = 10) -> str:
    """The duckdb raw-scan BM25 top-k of ``terms`` over ``documents``:
    the oracle of every BM25 query, inline or served."""
    in_terms = "(" + ", ".join(f"'{t}'" for t in terms) + ")"
    return (
        "WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) "
        "AS token FROM documents), "
        "lens AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl "
        "FROM documents), "
        "stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens), "
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok "
        f"WHERE token IN {in_terms} GROUP BY doc_id, token), "
        "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok "
        f"WHERE token IN {in_terms} GROUP BY token) "
        "SELECT doc_id, ROUND(SUM("
        "LN(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) "
        f"* (tf.tf * ({BM25_K1} + 1)) "
        f"/ (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * lens.dl / stats.avgdl))"
        "), 4) AS score "
        "FROM tf JOIN df USING (token) JOIN lens USING (doc_id) CROSS JOIN stats "
        f"GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {k}"
    )


def term_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, doc_id, tf) — term frequency per document."""
    return (
        docs.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_terms(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, token) — each document's DISTINCT non-empty tokens. The
    per-doc dedupe is row-local (``array_distinct`` before the explode),
    so an aggregate keyed on token alone counts documents, not
    occurrences, in one shuffle that carries one row per distinct pair —
    never the raw token stream."""
    return docs.select(
        id_col, F.explode(F.array_distinct(tokens(text_col))).alias("token")
    ).filter(F.col("token") != "")


def postings_from_rows(rows: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(token, df, doc_ids) from (token, doc_id) rows, one per distinct
    pair: the single aggregate :func:`postings` and the freshness audit
    share, so the written parquet can never silently diverge from the
    served one."""
    return rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
    )


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, df, doc_ids) — posting lists, sorted for determinism, in
    ONE shuffle over :func:`doc_terms` (no tf is computed only to be
    discarded). At 100 TB the shuffled volume is the postings
    themselves, the information-theoretic floor for this output."""
    return postings_from_rows(doc_terms(docs, id_col, text_col), id_col)


def write_index(docs: DataFrame, out_dir: str) -> None:
    """Materialize term_rows and postings as two CONCURRENT, independent jobs.

    Each table is one self-contained scan→explode→shuffle→agg→sorted-write
    pipeline (term_rows shuffles raw (token, doc) occurrences for tf;
    postings row-locally dedupes with ``array_distinct`` first so its
    exchange carries one row per distinct pair — the information floor
    for that output). Running them as overlapping jobs beats every
    shared-intermediate formulation measured at sf0.1/local[32]
    (persist+sequential 0.80s, persist+count+concurrent 0.47s, this
    0.37s): neither job saturates the cluster alone, the overlap
    reclaims the idle cores, and dropping the shared cache removes the
    materialization barrier plus the cache-put/read overhead on the hot
    path. The trade is a second source scan + ~2x total shuffle bytes —
    the right side of the trade here and usually at scale too: columnar
    scans are the cheap stage, both jobs stay stateless (clean retries,
    no executor-memory pressure from caching a corpus-sized
    intermediate), and each output still lands token-clustered and
    sorted for row-group skipping. Deployments where the double shuffle
    dominates (very hot small clusters) can fall back to
    ``postings_from_rows`` over a persisted ``term_rows``.

    PRECONDITION: ``docs`` must be a deterministic, IMMUTABLE relation
    (static parquet snapshot, not a view over files being appended, nor
    a nondeterministic transform). The two jobs scan the source
    independently; single-snapshot consistency between term_rows and
    postings is only guaranteed when both scans observe identical input
    (ADVICE r5). For mutable or nondeterministic sources, use
    ``postings_from_rows`` over a persisted ``term_rows`` — the persist
    is the snapshot."""

    def _write_rows() -> None:
        (
            docs.select("doc_id", F.explode(tokens("text")).alias("token"))
            .filter(F.col("token") != "")
            .repartition("token")
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/term_rows.parquet")
        )

    def _write_postings() -> None:
        postings(docs).sortWithinPartitions("token").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/postings.parquet")

    errors: list[BaseException] = []

    def _run(fn) -> None:
        try:
            fn()
        except BaseException as e:  # propagate to the caller's thread
            errors.append(e)

    threads = [
        threading.Thread(target=_run, args=(fn,), daemon=True)
        for fn in (_write_rows, _write_postings)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def write_segment(docs: DataFrame, out_dir: str) -> None:
    """Write one index segment over ``docs``: :func:`write_index`, then
    the per-document lengths and the one additive stats row, derived
    from the written lengths (a doc-count-sized read, no re-tokenize)."""
    write_index(docs, out_dir)
    write_store(
        docs.select("doc_id", F.size(tokens("text")).alias("dl")),
        f"{out_dir}/doclens.parquet",
        "doc_id",
    )
    lens = docs.sparkSession.read.parquet(f"{out_dir}/doclens.parquet")
    write_store(
        lens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dl").alias("n_dl"),
            F.sum("dl").alias("sum_dl"),
        ),
        f"{out_dir}/stats.parquet",
    )


def corpus_stats(stats: DataFrame) -> DataFrame:
    """(n_docs, avgdl) summed over the stats rows of disjoint segments.
    Counts and length sums are BIGINT-exact scalar adds; avgdl divides
    by the non-NULL length count, as AVG does."""
    return stats.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_dl")).alias("avgdl"),
    )
