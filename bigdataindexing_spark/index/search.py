"""Search queries over the inverted index (SURVEY.md §2.9 X5).

Two kinds of query live here. The inline ones run the index build inside
the plan (build + lookup in one DAG), so the oracle verifies end-to-end
equivalence with a raw scan formulation (`LIKE`-padded containment ≡
posting-list membership under space tokenization). The ``*_serve`` and
merge queries read materialized index SEGMENTS (index/build.write_segment)
the way a search tier reads Elasticsearch:

- ``search_idx`` — the segment over all documents plus per-posting BM25
  impacts and per-term max impacts; :func:`search_index_table` is its
  one public read;
- ``segment_base`` / ``segment_delta`` — the same segment layout over the
  documents with ``doc_id % 10 < 8`` and ``>= 8``: the index as of the
  last build and the newly arrived 20%, for incremental maintenance;
- ``positional_postings`` / ``positional_packed_base`` — the positional
  tier for phrase search and its incremental merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.index.build import (  # noqa: F401 (BM25_* re-exported)
    BM25_B,
    BM25_K1,
    bm25_oracle,
    bm25_weight,
    corpus_stats,
    doc_terms,
    term_rows,
    write_segment,
)
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.sources.store_dirs import (
    SessionParquetStore,
    write_store,
)
from bigdataindexing_spark.tables import bounded_sort, spread, table


@register(
    "idx_term_lookup",
    oracle="SELECT doc_id FROM documents "
    "WHERE ' ' || lower(text) || ' ' LIKE '% spark %' ORDER BY doc_id",
    tags=("index",),
    doc="Term lookup through the inverted index: build postings, probe one "
    "token. Oracle is the equivalent full-scan LIKE — the index result must "
    "match the scan exactly.",
)
def idx_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = term_rows(spread(table(spark, sf_dir, "documents")))
    return (
        rows.filter(F.col("token") == "spark")
        .select("doc_id")
        .transform(lambda d: bounded_sort(d, "doc_id", barrier=True))
    )


def _top_df(rows: DataFrame) -> DataFrame:
    """The ten highest-df tokens of (doc_id, token) distinct-pair rows."""
    return (
        rows.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(10)
    )


@register(
    "idx_top_terms",
    oracle="WITH u AS (SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) "
    "AS token FROM documents) "
    "SELECT token, COUNT(*) AS df FROM u WHERE token <> '' GROUP BY token "
    "ORDER BY df DESC, token LIMIT 10",
    tags=("index",),
    doc="Document-frequency top-10 terms from the postings relation. df "
    "only needs each document's DISTINCT tokens, so the per-doc dedupe "
    "runs ROW-LOCALLY (array_distinct before the explode) and the single "
    "aggregate keys on token alone — a vocabulary-sized hash table per "
    "partition and one shuffle, versus the two-level (doc_id, token) -> "
    "token aggregation the naive formulation pays.",
)
def idx_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _top_df(doc_terms(spread(table(spark, sf_dir, "documents"))))


@register(
    "idx_delete_anti_join",
    oracle="WITH u AS (SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) "
    "AS token FROM documents WHERE doc_id >= 100) "
    "SELECT token, COUNT(*) AS df FROM u WHERE token <> '' GROUP BY token "
    "ORDER BY df DESC, token LIMIT 10",
    tags=("index",),
    doc="S6 document deletion from the index: left-anti join of the flat "
    "postings rows against the deleted-id set, then re-aggregate — the "
    "Spark rewrite of the reference's per-document Elasticsearch DELETE "
    "(IndexingListener.java:127–131). The oracle is the index rebuilt from "
    "the surviving documents.",
)
def idx_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    # the anti-join against the tombstone set runs on the flat distinct
    # (doc_id, token) rows and the single rebuild aggregate keys on token
    deletes = docs.select("doc_id").filter(F.col("doc_id") < 100)
    return _top_df(
        doc_terms(docs).join(F.broadcast(deletes), "doc_id", "left_anti")
    )


# The index as two SEGMENTS over disjoint documents: the BASE (doc_id %
# 10 < 8, "the index as of the last build") and the DELTA (>= 8, the
# newly arrived 20%). Incremental maintenance reads the base segment and
# folds the delta in; a query benchmarked over a base rebuilt per call
# would be measuring a full rebuild, the exact thing merging avoids.
def _segment(kind: str, where: str) -> SessionParquetStore:
    return SessionParquetStore(
        kind,
        lambda spark, sf_dir, path: write_segment(
            spread(table(spark, sf_dir, "documents")).filter(where), path
        ),
    )


_BASE_SEGMENT = _segment("segment_base", "doc_id % 10 < 8")
_DELTA_SEGMENT = _segment("segment_delta", "doc_id % 10 >= 8")


def _segments_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One named table of both segments, as one relation."""
    return _BASE_SEGMENT.df(spark, sf_dir, f"{name}.parquet").unionByName(
        _DELTA_SEGMENT.df(spark, sf_dir, f"{name}.parquet")
    )


@register(
    "idx_postings_merge",
    oracle="WITH u AS (SELECT DISTINCT doc_id, "
    "UNNEST(string_split(lower(text), ' ')) AS token FROM documents), "
    "p AS (SELECT token, COUNT(*) AS df, list_sort(list(doc_id)) AS ids "
    "FROM u WHERE token <> '' GROUP BY token) "
    "SELECT token, df, len(ids) AS n_ids, "
    "md5(array_to_string(ids, ',')) AS ids_md5 FROM p ORDER BY token",
    tags=("index", "incremental", "serve"),
    doc="Incremental index maintenance: merge a DELTA postings table "
    "(newly arrived docs, doc_id % 10 >= 8) into the MATERIALIZED BASE "
    "segment's postings without touching already-indexed documents again "
    "— full-outer join on token, df adds, posting lists concat row-locally "
    "(both inputs are per-doc-sorted and disjoint, so one sort_array "
    "over the concatenation restores order). The base segment exists "
    "before the query, exactly like a serving index does (built once "
    "per session, the same policy as the BM25 store): the benched work "
    "is tokenizing ONLY the 20% delta plus a vocabulary-sized merge "
    "join, never a corpus rescan. This is the batch form of the "
    "reference's continuous ES upsert (IndexingListener.java:115-125). "
    "The oracle rebuilds postings from ALL documents, proving "
    "merge-then-serve is byte-equivalent to rebuild-from-scratch; the "
    "posting list itself is asserted through its length and the md5 of "
    "its comma-joined ids (scalar columns hash across engines).",
)
def idx_postings_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    # one SQL statement = one driver round-trip (see tables.table_view);
    # same plan as the Column form: delta postings in one shuffle
    # (row-local array_distinct), vocabulary-sized full-outer merge,
    # row-local list concat + re-sort
    merged = spark.sql(
        f"""
        WITH delta AS (
          SELECT token, COUNT(1) AS df,
                 sort_array(collect_list(doc_id)) AS doc_ids
          FROM (SELECT doc_id,
                       explode(array_distinct(split(lower(text), ' '))) AS token
                FROM {docs} WHERE doc_id % 10 >= 8)
          WHERE token != '' GROUP BY token
        )
        SELECT token,
               coalesce(b.df, 0) + coalesce(d.df, 0) AS df,
               sort_array(concat(
                 coalesce(b.doc_ids, CAST(array() AS array<bigint>)),
                 coalesce(d.doc_ids, CAST(array() AS array<bigint>)))) AS ids
        FROM {{base}} b FULL OUTER JOIN delta d USING (token)
    """,
        base=_BASE_SEGMENT.df(spark, sf_dir, "postings.parquet"),
    )
    return bounded_sort(
        merged.selectExpr(
            "token",
            "df",
            "CAST(size(ids) AS BIGINT) AS n_ids",
            "md5(array_join(transform(ids, x -> CAST(x AS STRING)), ','))"
            " AS ids_md5",
        ),
        "token",
    )


@register(
    "idx_tfidf_search",
    oracle="WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) "
    "AS token FROM documents), "
    "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok "
    "WHERE token IN ('spark', 'data') GROUP BY doc_id, token), "
    "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok "
    "WHERE token IN ('spark', 'data') GROUP BY token), "
    "n AS (SELECT COUNT(*) AS n FROM documents) "
    "SELECT doc_id, ROUND(SUM(tf * LN(n.n * 1.0 / df.df)), 4) AS score "
    "FROM tf JOIN df USING (token) CROSS JOIN n "
    "GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10",
    tags=("index", "search"),
    doc="Ranked retrieval: TF-IDF scoring of a two-term query, computed "
    "TERM-AT-A-TIME and ROW-LOCALLY — for a fixed small query, each "
    "document's per-term tf is size(filter(tokens, = term)) inside the "
    "scan stage, so the inline formulation needs NO tokenize-explode-"
    "aggregate pipeline at all: one scan produces (doc_id, tf_0, tf_1), "
    "one 1-row aggregate derives (df per term, N) and broadcast-cross-"
    "joins back, and the score is a row-local expression into a top-k "
    "combine. The Spark-native analogue of the reference's Elasticsearch "
    "relevance ranking; the serve path (idx_bm25_serve) reads the "
    "materialized postings instead of scanning raw documents.",
)
def idx_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import pin, table_view

    terms = ["spark", "data"]
    docs = table_view(spark, sf_dir, "documents")
    # per_doc feeds the df/N aggregate AND the scoring branch: persist
    # the tiny (doc_id, tf...) relation so the tokenize scan runs once,
    # not once per consumer. Both statements are single-SQL (one driver
    # round-trip each, see tables.table_view).
    tf_cols = ", ".join(
        f"size(filter(t, w -> w = '{term}')) AS tf_{i}"
        for i, term in enumerate(terms)
    )
    per_doc = pin(
        spark.sql(
            f"SELECT doc_id, {tf_cols} FROM "
            f"(SELECT doc_id, split(lower(text), ' ') AS t FROM {docs})"
        )
    )
    view = f"bdi_tfidf_perdoc_{abs(hash((spark.sparkContext.applicationId, sf_dir))) % 10**8}"
    per_doc.createOrReplaceTempView(view)
    df_cols = ", ".join(
        f"count_if(tf_{i} > 0) AS df_{i}" for i in range(len(terms))
    )
    score = " + ".join(
        f"CASE WHEN df_{i} > 0 THEN tf_{i} * ln(n_docs / df_{i}) "
        f"ELSE CAST(0.0 AS DOUBLE) END"
        for i in range(len(terms))
    )
    tf_sum = " + ".join(f"tf_{i}" for i in range(len(terms)))
    return spark.sql(f"""
        WITH stats AS (
          SELECT COUNT(1) AS n_docs, {df_cols} FROM {view}
        )
        SELECT /*+ BROADCAST(stats) */ doc_id, ROUND({score}, 4) AS score
        FROM {view} CROSS JOIN stats
        WHERE {tf_sum} > 0
        ORDER BY score DESC, doc_id LIMIT 10
    """)


@register(
    "idx_bm25_search",
    oracle=bm25_oracle(("spark", "data")),
    tags=("index", "search"),
    doc="BM25 ranked retrieval (k1=1.2, b=0.75, Lucene's ln(1+(N-df+.5)/"
    "(df+.5)) idf) — the scorer Elasticsearch actually uses for the "
    "reference's search surface (IndexingListener.java indexes into ES; "
    "ES similarity default is BM25), so this is closer parity than the "
    "classic TF-IDF (idx_tfidf_search, kept as the textbook baseline). "
    "Scored term-at-a-time and row-local: one scan yields each doc's "
    "(dl, per-term tf) inside the scan stage — no tokenize-explode-"
    "aggregate pipeline; corpus stats (N, avgdl, per-term df) are ONE "
    "1-row aggregate broadcast-cross-joined back, and the scorer is a "
    "row-local expression into a top-k combine. Nothing driver-side "
    "runs during build.",
)
def idx_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import pin, table_view

    terms = ["spark", "data"]
    docs = table_view(spark, sf_dir, "documents")
    # term-at-a-time row-local scoring (see idx_tfidf_search): one scan
    # yields (doc_id, dl, tf per query term); corpus stats (N, avgdl, df
    # per term) are ONE 1-row aggregate broadcast-cross-joined back; the
    # BM25 expression is row-local into a top-k combine. Both statements
    # are single-SQL; per_doc is pinned because two branches consume it.
    tf_cols = ", ".join(
        f"size(filter(t, w -> w = '{term}')) AS tf_{i}"
        for i, term in enumerate(terms)
    )
    per_doc = pin(
        spark.sql(
            f"SELECT doc_id, size(t) AS dl, {tf_cols} FROM "
            f"(SELECT doc_id, split(lower(text), ' ') AS t FROM {docs})"
        )
    )
    view = f"bdi_bm25_perdoc_{abs(hash((spark.sparkContext.applicationId, sf_dir))) % 10**8}"
    per_doc.createOrReplaceTempView(view)
    df_cols = ", ".join(
        f"count_if(tf_{i} > 0) AS df_{i}" for i in range(len(terms))
    )
    score = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN {bm25_weight(f'tf_{i}', f'df_{i}')} "
        f"ELSE CAST(0.0 AS DOUBLE) END"
        for i in range(len(terms))
    )
    tf_sum = " + ".join(f"tf_{i}" for i in range(len(terms)))
    return spark.sql(f"""
        WITH stats AS (
          SELECT COUNT(1) AS n_docs, AVG(dl) AS avgdl, {df_cols}
          FROM {view}
        )
        SELECT /*+ BROADCAST(stats) */ doc_id, ROUND({score}, 4) AS score
        FROM {view} CROSS JOIN stats
        WHERE {tf_sum} > 0
        ORDER BY score DESC, doc_id LIMIT 10
    """)


@register(
    "idx_phrase_query",
    oracle="SELECT DISTINCT doc_id FROM documents "
    "WHERE ' ' || lower(text) || ' ' LIKE '% table hash %' ORDER BY doc_id",
    tags=("index", "search"),
    doc="Positional phrase query ('table hash'): the positions index "
    "(doc_id, pos, token) self-joins on pos+1 adjacency — the inverted-"
    "index phrase algorithm, verified against the padded-substring scan.",
)
def idx_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH positions AS (
          SELECT doc_id, pos, token
          FROM {docs}
          LATERAL VIEW posexplode(split(lower(text), ' ')) t AS pos, token
        )
        SELECT DISTINCT a.doc_id
        FROM (SELECT doc_id, pos FROM positions WHERE token = 'table') a
        JOIN (SELECT doc_id, pos FROM positions WHERE token = 'hash') b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ORDER BY doc_id
    """)


# The materialized search index: the segment over ALL documents
# (index/build.write_segment) plus per-posting BM25 impacts and the
# per-term max impact, each a named sub-table ``<name>.parquet``. This is
# the reference's actual serving architecture — IndexingListener.java:23-45
# maintains an Elasticsearch index asynchronously and queries hit the
# INDEX, never raw documents; the inline build+search queries above keep
# their end-to-end oracles, while the *_serve variants below read this
# store the way a search tier reads ES.
def _build_search_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    write_segment(spread(table(spark, sf_dir, "documents")), path)

    def sub(name: str) -> DataFrame:
        return spark.read.parquet(f"{path}/{name}.parquet")

    # Per-posting PRECOMPUTED impacts (token, doc_id, w) — the Lucene
    # impact layout: w depends only on build-fixed segment columns (tf,
    # df, dl) and the corpus stats, so the serving paths read it straight
    # off a token-sorted scan with the query-term filter pushed down
    # (r10; guide §2.4 — the joins belong in the build, not the serve).
    write_store(
        sub("term_rows")
        .join(F.broadcast(sub("postings").select("token", "df")), "token")
        .join(sub("doclens"), "doc_id")
        .crossJoin(F.broadcast(corpus_stats(sub("stats"))))
        .select("token", "doc_id", F.expr(bm25_weight()).alias("w")),
        f"{path}/term_impacts.parquet",
        "token",
        "doc_id",
    )
    # Per-term MAX impact — the WAND/MaxScore sidecar: the largest BM25
    # contribution any single posting of this term can make, fixed at
    # build time. Early-termination serves (idx_maxscore_topk) prune with
    # these bounds instead of enumerating low-impact postings.
    write_store(
        sub("term_impacts").groupBy("token").agg(F.max("w").alias("maxw")),
        f"{path}/term_maxw.parquet",
        "token",
    )


_SEARCH_INDEX = SessionParquetStore("search_idx", _build_search_index)


def search_index_table(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """The search index's one public read, by sub-table name (``term_rows``,
    ``term_impacts``, ...): every caller, inside this module or out,
    reaches the store through here."""
    return _SEARCH_INDEX.df(spark, sf_dir, f"{name}.parquet")


@register(
    "idx_bm25_serve",
    oracle=bm25_oracle(("spark", "data")),
    tags=("index", "search", "serve"),
    doc="BM25 served from the MATERIALIZED index (same scorer and oracle "
    "as idx_bm25_search, which keeps the inline build-and-search "
    "formulation): the per-posting impacts are written token-sorted, so "
    "the query-term filter both pushes to the parquet scan and skips row "
    "groups — the serve path touches only the query terms' postings "
    "(the Lucene impact layout), never a raw document and never a "
    "query-time corpus aggregate. This is the reference's search tier: "
    "IndexingListener.java maintains the ES index asynchronously and "
    "PlanController queries hit the index alone. The oracle (raw-scan "
    "BM25) proves the served index is consistent with the source of "
    "truth.",
)
def idx_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["spark", "data"]
    # every scoring term comes PRECOMPUTED from the store's per-posting
    # impacts table: the serve is ONE pushed token-filtered scan + top-k,
    # zero joins and zero corpus aggregation per query
    scored = search_index_table(spark, sf_dir, "term_impacts").filter(
        F.col("token").isin(terms)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


# --- incremental BM25 serve under corpus growth (round 9) ---------------------
#
# The subtlety that makes BM25 harder to maintain incrementally than raw
# postings: appending documents shifts the GLOBAL stats (n_docs, avgdl),
# which re-weights the idf of every term and the length norm of every
# already-indexed document. The production answer (Lucene's) is to store
# per-doc length dl and per-(token, doc) tf — both append-only under
# growth — and derive idf/norm AT SCORE TIME from current stats, which
# themselves maintain ADDITIVELY: each segment stores one stats row, and
# the global stats are scalar adds over them. So the incremental refresh
# pays: delta segment build + query-term-bounded reads from both
# segments. Never a corpus re-tokenize, never a stored-norm rewrite.
BM25_INC_TERMS = ("stream", "filter")


@register(
    "idx_bm25_incremental_serve",
    oracle=bm25_oracle(BM25_INC_TERMS),
    tags=("index", "incremental", "search", "serve"),
    doc="BM25 serve over an INCREMENTALLY GROWN index — the global-stats "
    "maintenance subtlety raw postings merges don't face: new documents "
    "(doc_id % 10 >= 8) shift n_docs and avgdl, re-weighting every "
    "term's idf and every existing doc's length norm. Following "
    "Lucene's layout, the base and delta segments hold only append-only "
    "relations — (token, doc_id, tf), (token, df) and (doc_id, dl) — "
    "and the serve derives idf/norm at score time from global stats "
    "summed over the segments' one-row stats: document count, non-NULL "
    "length count and length sum are BIGINT-exact scalar adds, and "
    "avgdl divides by the non-NULL count exactly as AVG does. Global "
    "df is the sum of the disjoint segments' per-term df. Refresh cost: "
    "the delta segment build; never a corpus re-tokenize, never a "
    "stored-norm rewrite. The oracle computes BM25 from the FULL raw "
    "corpus — incremental-serve ≡ batch-rebuild is the hash contract.",
)
def idx_bm25_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = list(BM25_INC_TERMS)
    rows = _segments_table(spark, sf_dir, "term_rows").filter(
        F.col("token").isin(terms)
    )
    # a pushed query-term read of each segment's postings, not a COUNT
    # DISTINCT over the query terms' rows per serve
    dfreq = (
        _segments_table(spark, sf_dir, "postings")
        .select("token", "df")
        .filter(F.col("token").isin(terms))
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
    )
    # one stats row read per segment, never the doc-count-sized doclens
    stats = corpus_stats(_segments_table(spark, sf_dir, "stats"))
    scored = (
        rows.join(F.broadcast(dfreq), "token")
        .join(_segments_table(spark, sf_dir, "doclens"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(bm25_weight()).alias("w"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


MAXSCORE_TERMS = ("dup", "data", "scan", "merge")  # rare + 3 common
MAXSCORE_K = 10
# Pruning slack (ADVICE r9 #1): the oracle decides its top-k on
# ROUND(score, 4) with doc_id ASC tiebreak, so a doc whose EXACT score
# is a hair under theta can round into the k-th candidate's 1e-4 bucket
# and win the tiebreak. Pruning against theta - EPS (one full grid step)
# guarantees every excluded doc's rounded score sits STRICTLY below the
# k-th rounded score: score < theta - 1e-4 implies round(score, 4) <=
# round(theta, 4) - 1e-4 (round is monotone and the grid is 1e-4), so
# no tiebreak can ever admit a pruned doc. EPS also dwarfs the 4-term
# double-sum order wobble (~1e-12 absolute) by eight orders.
MAXSCORE_EPS = 1e-4


def _essential_terms(maxw: "dict[str, float]", theta: float) -> "list[str]":
    """MaxScore term partition (Turtle & Flood 1995): sort query terms by
    descending max impact; the ESSENTIAL set is the minimal prefix whose
    complement's summed bounds stay under theta — a document matching
    only non-essential terms has upper bound sum(non-essential maxw) <
    theta and can never enter the top-k. Pure driver arithmetic on one
    scalar per query term. theta = -inf (fewer than k seeded docs)
    degrades to all-essential, i.e. no pruning — always sound. Callers
    pass theta already slackened by MAXSCORE_EPS (see above)."""
    terms = sorted(maxw, key=lambda t: (-maxw[t], t))
    for i in range(1, len(terms) + 1):
        if sum(maxw[t] for t in terms[i:]) < theta:
            return terms[:i]
    return terms


@register(
    "idx_maxscore_topk",
    oracle=bm25_oracle(MAXSCORE_TERMS, MAXSCORE_K),
    tags=("index", "search", "serve"),
    doc="MaxScore/WAND-style early-termination top-k (Turtle & Flood; the "
    "Lucene disjunctive-query executor): a 4-term disjunction where the "
    "store's per-term MAX-impact sidecar (term_maxw, fixed at build) "
    "bounds what any posting can contribute. Serve (two Spark "
    "actions total, VERDICT r9 #2): (1) ONE combined job collects both "
    "the 4-row term_maxw bound fetch and the theta seed — the k-th full "
    "score among the HIGHEST-impact term's docs, the top term picked "
    "inside the plan — as a tagged union over the pinned per-posting "
    "impact relation; (2) terms are partitioned driver-side against "
    "theta - MAXSCORE_EPS (slack: see MAXSCORE_EPS) — non-essential "
    "terms are those whose summed bounds stay under it, so documents "
    "matching ONLY them are provably outside the top-k and their "
    "postings are never enumerated as candidate drivers (at 100 TB that "
    "is the high-df stopwordy tail, i.e. most of the postings volume); "
    "(3) the final job exact-scores only candidates matching an "
    "essential term, reusing the cached impacts. Pruning is sound by "
    "upper bound even under the oracle's ROUND(score,4)+doc_id "
    "tiebreak, so the result is IDENTICAL to the unpruned disjunction "
    "— which is exactly what the oracle (raw-scan exact BM25 top-k) "
    "checks; soundness and the rounding-boundary margins are separately "
    "property-tested (tests/test_maxscore.py).",
)
def idx_maxscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = list(MAXSCORE_TERMS)
    # per-posting impacts come PRECOMPUTED from the store (the Lucene
    # impact layout; built once in search_index_table) — the serve is a
    # pushed token-filtered scan, not a 3-table join per query. No
    # persist: re-scanning the tiny pushed store in the second action is
    # cheaper than the cache put + memory-store read (measured 0.63 vs
    # 0.57s interleaved at sf0.1).
    rows = search_index_table(spark, sf_dir, "term_impacts").filter(
        F.col("token").isin(terms)
    )
    w_rows = rows.select("doc_id", "token", "w")
    # combined bound-fetch + theta-seed job (action 1 of 2): the top
    # term is selected INSIDE the plan (highest maxw, token desc
    # tiebreak — same order the driver arithmetic used to apply), its
    # docs' full scores seed theta, and both tiny relations come back
    # in one tagged collect — bounded driver traffic (4 + k rows)
    maxw_df = search_index_table(spark, sf_dir, "term_maxw").filter(
        F.col("token").isin(terms)
    )
    top1 = (
        maxw_df.orderBy(F.col("maxw").desc(), F.col("token").desc())
        .limit(1)
        .select(F.col("token").alias("_t1"))
    )
    # seed = top-k full scores among the top term's docs, as ONE
    # aggregation over the pinned impacts: the doc-level sum and a
    # contains-top-term flag ride the same groupBy, with the 1-row top1
    # cross-broadcast for the flag compare. The previous shape built two
    # NESTED broadcasts (top1, then the semi-joined doc set) — two extra
    # sequential broadcast-build jobs inside action 1 for the same rows
    # (guide §2.4: every broadcast is a driver round-trip on the serve's
    # critical path).
    seed = (
        w_rows.crossJoin(F.broadcast(top1))
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.max((F.col("token") == F.col("_t1")).cast("int")).alias("_has"),
        )
        .filter(F.col("_has") == 1)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(MAXSCORE_K)
    )
    fetched = (
        maxw_df.select(
            F.lit("maxw").alias("kind"),
            F.col("token").alias("key"),
            F.col("maxw").alias("val"),
        )
        .unionByName(
            seed.select(
                F.lit("seed").alias("kind"),
                F.col("doc_id").cast("string").alias("key"),
                F.col("score").alias("val"),
            )
        )
        .collect()
    )
    maxw = {r["key"]: r["val"] for r in fetched if r["kind"] == "maxw"}
    seed_scores = [r["val"] for r in fetched if r["kind"] == "seed"]
    if not maxw:  # no query term in the corpus -> empty result
        return w_rows.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    theta = (
        min(seed_scores) if len(seed_scores) >= MAXSCORE_K else float("-inf")
    )
    essential = _essential_terms(maxw, theta - MAXSCORE_EPS)
    # candidates = docs matching ANY essential term; exact-score them over
    # ALL query terms (the semi-join bounds every non-essential postings
    # read to candidate docs). No .distinct() on the build side: a LEFT
    # SEMI join is set-semantics regardless of build-side duplicates,
    # and the distinct only added an exchange + aggregate ahead of the
    # broadcast (guide §2.4).
    cand = rows.filter(F.col("token").isin(essential)).select("doc_id")
    out = (
        w_rows.join(cand, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(MAXSCORE_K)
    )
    return out


@register(
    "idx_store_freshness",
    oracle="SELECT 'postings' AS tbl, CAST(0 AS BIGINT) AS drift_rows "
    "UNION ALL SELECT 'term_rows', CAST(0 AS BIGINT) ORDER BY tbl",
    tags=("index", "serve", "ops"),
    bench=False,  # ops audit; its oracle asserts an invariant, not
    # equivalent work — a duckdb-vs-Spark ratio would be meaningless
    doc="Anti-entropy check between the SERVED index store and the source "
    "of truth: recompute both index relations from raw documents and "
    "count rows that differ from the materialized store in either "
    "direction (symmetric difference via two anti-joins per table). The "
    "oracle asserts the invariant itself — drift must be exactly zero — "
    "so any staleness, partial write, or build/serve divergence "
    "(index/build.py refactors, store-dir corruption) turns into a hash "
    "mismatch. This is the consistency audit an async-maintained search "
    "tier (the reference's listener-fed Elasticsearch) runs to prove "
    "the index still reflects the corpus; at 100 TB the same plan runs "
    "per token-range partition.",
)
def idx_store_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.index.build import postings_from_rows

    docs = spread(table(spark, sf_dir, "documents"))
    fresh_rows = term_rows(docs)
    fresh_post = postings_from_rows(fresh_rows)
    stored_rows = search_index_table(spark, sf_dir, "term_rows")
    stored_post = search_index_table(spark, sf_dir, "postings").select(
        "token", "df", "doc_ids"
    )

    def drift(a: DataFrame, b: DataFrame, cols: list[str]) -> DataFrame:
        return a.join(b, cols, "left_anti").unionByName(
            b.join(a, cols, "left_anti")
        )

    d_rows = drift(
        fresh_rows, stored_rows.select("token", "doc_id", "tf"),
        ["token", "doc_id", "tf"],
    ).agg(F.count(F.lit(1)).alias("drift_rows")).select(
        F.lit("term_rows").alias("tbl"), "drift_rows"
    )
    d_post = drift(fresh_post, stored_post, ["token", "df", "doc_ids"]).agg(
        F.count(F.lit(1)).alias("drift_rows")
    ).select(F.lit("postings").alias("tbl"), "drift_rows")
    return d_post.unionByName(d_rows).orderBy("tbl")


@register(
    "txt_keywords",
    oracle="WITH tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ("
    "SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token "
    "FROM documents) WHERE token <> '' GROUP BY doc_id, token), "
    "df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token), "
    "n AS (SELECT COUNT(*) AS n FROM documents), "
    "s AS (SELECT doc_id, token, tf * LN(n.n * 1.0 / df.df) AS w "
    "FROM tf JOIN df USING (token) CROSS JOIN n WHERE doc_id <= 100), "
    "r AS (SELECT doc_id, token, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY w DESC, token) AS rk FROM s) "
    "SELECT doc_id, token AS keyword, rk FROM r WHERE rk <= 3 "
    "ORDER BY doc_id, rk",
    tags=("text", "index", "enrichment", "serve"),
    doc="Per-document keyword extraction: top-3 tokens by TF-IDF weight "
    "(corpus df from the full term relation, ln(N/df) idf, token "
    "tie-break) — the enrichment step that turns raw documents into "
    "tagged/search-facetable records, inverse of idx_tfidf_search's "
    "query-side ranking. Corpus-wide statistics (per-token df, N) are "
    "SERVED from the materialized index store (search_index_table, the "
    "same tier idx_bm25_serve reads — the reference's async-maintained "
    "ES index): the enrichment query touches only the target documents' "
    "term rows plus the vocabulary-sized df table (broadcast) and the "
    "1-row stats table, never re-tokenizing the corpus. The per-doc "
    "rank window partitions by doc_id, so nothing global touches the "
    "corpus-sized relation. Ranks (not raw float weights) are compared "
    "cross-engine, so the oracle is immune to last-ulp float "
    "differences except at exact ties, which the token tie-break "
    "resolves.",
)
def txt_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = search_index_table(spark, sf_dir, "stats").select("n_docs")
    dfreq = search_index_table(spark, sf_dir, "postings").select(
        "token", "df"
    )
    rows = search_index_table(spark, sf_dir, "term_rows")
    w = F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df"))
    scored = (
        rows.filter(F.col("doc_id") <= 100)
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", w.alias("w"))
    )
    rk = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("token").alias("keyword"), "rk")
        .transform(lambda d: bounded_sort(d, "doc_id", "rk"))
    )


# --- phrase search over positional postings (round 8) -------------------------

PHRASE = ("sort", "merge")  # the probed phrase (present at all 3 SFs)


def _build_positional_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, doc_id, pos) — the positional index tier. Sorted by token
    at write time so a phrase probe's per-term reads row-group-skip to
    just the probed tokens; at 100 TB this store partitions BY token
    range and a phrase query touches only its terms' partitions."""
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        SELECT token, doc_id, pos
        FROM (SELECT doc_id,
                     posexplode(split(lower(text), ' ')) AS (pos, token)
              FROM {docs})
        WHERE token != ''
    """)


_POS_STORE = SessionParquetStore(
    "positional_postings",
    lambda spark, sf_dir, path: write_store(
        _build_positional_postings(spark, sf_dir), path, "token"
    ),
)


@register(
    "idx_phrase_search",
    oracle="WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t "
    "FROM documents), "
    "p AS (SELECT doc_id, UNNEST(t) AS token, "
    "generate_subscripts(t, 1) - 1 AS pos FROM tok), "
    f"a AS (SELECT doc_id, pos FROM p WHERE token = '{PHRASE[0]}'), "
    f"b AS (SELECT doc_id, pos FROM p WHERE token = '{PHRASE[1]}') "
    "SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences "
    "FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "GROUP BY a.doc_id ORDER BY a.doc_id",
    tags=("index", "search", "serve"),
    doc="Phrase search over a POSITIONAL postings store — the index tier "
    "term/TF-IDF/BM25 retrieval cannot express: '"
    + " ".join(PHRASE)
    + "' matches only CONSECUTIVE positions, found by probing the two "
    "terms' postings and joining on (doc_id, pos+1) adjacency. The "
    "(token, doc_id, pos) store materializes once per session sorted "
    "by token, so each probe reads only the phrase's terms (row-group "
    "skipping locally; token-range partitions at 100 TB) and the "
    "adjacency join is bounded by the rarer term's postings, never the "
    "corpus. This is how Lucene/ES position queries work against the "
    "same inverted-index family the repo already serves "
    "(IndexingListener.java's ES documents carry positions implicitly). "
    "Oracle: duckdb recomputes positions from raw text and applies the "
    "same adjacency join.",
)
def idx_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = _POS_STORE.df(spark, sf_dir)
    a = post.filter(F.col("token") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = post.filter(F.col("token") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    out = (
        a.join(b, (a["doc_id"] == b["doc_b"]) & (b["pb"] == a["pa"] + 1))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return bounded_sort(out, "doc_id", barrier=True)


# --- incremental positional-postings maintenance (round 9) --------------------
#
# VERDICT r8 #6: the phrase tier was the one serve store without an
# incremental maintenance path. Same arrival convention as
# idx_postings_merge (doc_id % 10 >= 8 plays the newly-arrived 20%),
# same contract (merged store hash-equals a from-scratch rebuild over
# ALL documents), applied to the PACKED per-token positional layout:
# each (doc_id, pos) occurrence encodes as one BIGINT key
# doc_id * POS_SHIFT + pos, so a token's postings are a sorted integer
# array that concat-merges row-locally and hashes identically across
# engines (the idx_postings_merge / sim_ann_index_upsert
# canonicalization).
POS_SHIFT = 1 << 20  # max tokens/doc the packing supports; the corpus'
# synthetic docs run a few hundred tokens, and a 100 TB deployment
# bumps the shift (or packs a struct) long before 1M-token documents.

_PACKED_POS_BASE = SessionParquetStore(
    "positional_packed_base",
    lambda spark, sf_dir, path: write_store(
        _build_positional_postings(spark, sf_dir)
        .filter(F.col("doc_id") % 10 < 8)
        .select(
            "token",
            (F.col("doc_id") * F.lit(POS_SHIFT) + F.col("pos")).alias("key"),
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list("key")).alias("ks"),
        ),
        path, "token",
    ),
)


@register(
    "idx_positional_merge",
    oracle="WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t "
    "FROM documents), "
    "p AS (SELECT doc_id, UNNEST(t) AS token, "
    "generate_subscripts(t, 1) - 1 AS pos FROM tok), "
    f"k AS (SELECT token, doc_id * {POS_SHIFT} + pos AS key FROM p "
    "WHERE token <> ''), "
    "g AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_postings, "
    "list_sort(list(key)) AS ks FROM k GROUP BY token) "
    "SELECT token, n_postings, md5(array_to_string(ks, ',')) AS "
    "postings_md5 FROM g ORDER BY token",
    tags=("index", "incremental", "serve"),
    doc="Incremental maintenance for the POSITIONAL index tier "
    "(idx_phrase_search's store): newly arrived documents "
    "(doc_id % 10 >= 8) tokenize with positions and fold into the "
    "materialized base store via ONE vocabulary-sized full-outer join "
    "on token with row-local sorted-concat of the packed postings "
    "(doc_id * 2^20 + pos BIGINT keys — disjoint inputs, one sort_array "
    "restores global order). Maintenance cost is a position pass over "
    "the 20% DELTA plus the token-keyed merge, never a corpus "
    "re-tokenize — the idx_postings_merge contract extended to the one "
    "store that lacked it (VERDICT r8 #6). The oracle rebuilds the "
    "packed layout from ALL documents in duckdb, proving incremental "
    "merge ≡ from-scratch rebuild; postings are asserted through their "
    "count and the md5 of the comma-joined sorted keys (scalar columns "
    "hash across engines, raw arrays do not).",
)
def idx_positional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    base = _PACKED_POS_BASE.view(spark, sf_dir)
    merged = spark.sql(f"""
        WITH delta AS (
          SELECT token, COUNT(1) AS n,
                 sort_array(collect_list(key)) AS ks
          FROM (SELECT token, doc_id * {POS_SHIFT}L + pos AS key
                FROM (SELECT doc_id,
                             posexplode(split(lower(text), ' ')) AS (pos, token)
                      FROM {docs} WHERE doc_id % 10 >= 8)
                WHERE token != '')
          GROUP BY token
        )
        SELECT token,
               coalesce(b.n, 0L) + coalesce(d.n, 0L) AS n_postings,
               md5(array_join(transform(sort_array(concat(
                 coalesce(b.ks, CAST(array() AS array<bigint>)),
                 coalesce(d.ks, CAST(array() AS array<bigint>)))),
                 x -> CAST(x AS STRING)), ',')) AS postings_md5
        FROM {base} b FULL OUTER JOIN delta d USING (token)
    """)
    return bounded_sort(merged, "token")
