"""Similarity search over the `embeddings` table (SURVEY.md §2.9 X3).

- brute-force cosine top-k (the correctness baseline): broadcast the small
  query side against the full candidate table, dot/norm via built-in
  higher-order functions (JVM-side), window top-k per query;
- cosine near-dup pairs at a fixed threshold;
- LSH-bucketed ANN (random-hyperplane signatures) — the scale path:
  signature computation is a single pass, candidate generation is an
  equi-join on (band, bucket), so the quadratic pair space is never
  materialized.

Every ANN variant here is FULL-hash-oracle-checked, approximation and
all: the LSH pipeline via md5-derived hyperplanes rebuilt in duckdb
(_LSH_ORACLE), and the trained IVF/PQ/IVF-PQ family via the 1e-9
quantization contract (see the comment above _q9np) that lets the duckdb
oracle rebuild the k-means training loop itself. Recall-vs-brute-force
contracts in pytest additionally bound approximation QUALITY.

At 100 TB the brute-force path is only used per-query with a broadcast
query set; the LSH path (or an IVF variant partitioned by coarse cluster)
is the default.

Caching contract: builders that feed one relation into several join
branches persist() it (Spark does not deduplicate common subtrees). The
cache entry lives until the plan is dropped — callers running many
queries in one long-lived session should `spark.catalog.clearCache()`
between queries, as bench.py and the driver do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore, write_store

from bigdataindexing_spark.functions.vectors import as_double, cosine
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.tables import bounded_sort, spread, table

COSINE_NEARDUP_TAU = 0.45
N_QUERIES = 10
# 8 LSH tables x 8 hyperplanes each: a query probes 8 buckets; with 8-bit
# buckets each table has ~n/256 vectors per bucket, so candidate cost is
# ~n/32 per query while multi-table OR-construction keeps recall usable.
LSH_TABLES = 8
LSH_PLANES_PER_TABLE = 8


@register(
    "q25_ann_bruteforce",
    oracle="WITH e AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    f"q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}), "
    "s AS (SELECT qid, vec_id AS cid, list_cosine_similarity(qv, v) AS c "
    "FROM q CROSS JOIN e WHERE vec_id <> qid), "
    "r AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid "
    "ORDER BY c DESC, cid) AS rn FROM s) "
    "SELECT qid, cid AS neighbor_id FROM r WHERE rn = 1 ORDER BY qid",
    tags=("similarity",),
    doc="Brute-force cosine top-1 neighbor for 10 query vectors. The query "
    "side is broadcast; the candidate scan parallelizes across partitions "
    "with no shuffle until the tiny top-k. Norms are computed once per "
    "VECTOR (not per pair): with Q broadcast queries each candidate row "
    "would otherwise re-derive its own norm Q times inside the pair "
    "expression — factoring it out cuts the per-pair work to one "
    "zip_with dot product.",
)
def q25_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", as_double("embedding").alias("v"))
        .withColumn("nrm", F.expr(
            "sqrt(aggregate(transform(v, x -> x * x), 0.0D, (s, v) -> s + v))"
        ))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            (
                F.expr(
                    "aggregate(zip_with(qv, v, (x, y) -> x * y), 0.0D, "
                    "(s, v) -> s + v)"
                )
                / (F.col("nrm") * F.col("qn"))
            ).alias("c"),
        )
    )
    # top-1 as MIN(struct(-c, cid)): argmax by (c desc, cid asc) expressed
    # as an ordinary aggregate, so the per-pair relation partial-reduces
    # map-side to one row per (partition, qid) — nothing but Q rows cross
    # the exchange, where a ranking window would shuffle every scored
    # pair and sort whole partitions. IEEE negation is exact, so the
    # float compare matches the oracle's ORDER BY c DESC tie-broken
    # by cid.
    return (
        scored.groupBy("qid")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("cid"))).alias("b"))
        .select("qid", F.col("b.cid").alias("neighbor_id"))
        .transform(lambda d: bounded_sort(d, "qid", barrier=True))
    )


@register(
    "sim_cosine_neardup",
    oracle="WITH e AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    "list_cosine_similarity(a.v, b.v) AS c FROM e a JOIN e b ON a.vec_id < b.vec_id) "
    f"SELECT vec_a, vec_b FROM p WHERE c >= {COSINE_NEARDUP_TAU} "
    "ORDER BY vec_a, vec_b",
    tags=("similarity", "dedup"),
    bench=False,
    doc="Embedding-cosine near-duplicate pairs (cos ≥ 0.45). Quadratic at "
    "test scale; the LSH-bucketed variant below is the 100 TB path.",
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double("embedding").alias("v")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cosine("va", "vb") >= COSINE_NEARDUP_TAU)
        .select("vec_a", "vec_b")
        .orderBy("vec_a", "vec_b")
    )


def _plane_weights(dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (md5-derived, reproducible
    across runs/engines): one row of `dim` weights per plane."""
    import hashlib

    n_planes = LSH_TABLES * LSH_PLANES_PER_TABLE
    return [
        [
            int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            / float(2**60)
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_signatures(emb: DataFrame, dim: int) -> DataFrame:
    """(vec_id, tbl, bucket) — random-hyperplane bucket per vector per table.

    One Arrow-batched pass: the whole signature computation is a single
    numpy matmul V @ Wᵀ followed by sign/bit-packing — no shuffle, no join.
    (Inlining the 64×64 plane matrix as literal column expressions puts
    ~4k constants and 64 aggregate lambdas into the plan, which costs more
    in planning/codegen than the actual math.)
    """
    w = _plane_weights(dim)

    def batches(it):
        import numpy as np
        import pandas as pd

        W = np.asarray(w)  # (n_planes, dim)
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "buckets": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype("float64")
            bits = (V @ W.T) > 0  # (n, n_planes)
            buckets = []
            for t in range(LSH_TABLES):
                b = np.zeros(len(pdf), dtype=np.int64)
                for pl in range(LSH_PLANES_PER_TABLE):
                    b |= bits[:, t * LSH_PLANES_PER_TABLE + pl].astype(
                        np.int64
                    ) << pl
                buckets.append(b)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "buckets": list(np.stack(buckets, axis=1).tolist()),
                }
            )

    schema = "vec_id BIGINT, buckets ARRAY<BIGINT>"
    sigs = emb.select("vec_id", "embedding").mapInPandas(batches, schema)
    return sigs.select(
        "vec_id", F.posexplode("buckets").alias("tbl", "bucket")
    )


# Signature-index store: signatures are a property of the corpus, not of
# any query — a serving system builds them once at ingest and every ANN
# query probes the index table; recomputing the mapInPandas matmul pass
# inside each query charged index-build cost to the serve path (the
# same defect q44_rollup_serve had with its rollup). All the ANN stores
# below share SessionParquetStore (store_dirs.py), which owns the
# session-rebind and stale-dir hazards once for every tier.
_SIG_STORE = SessionParquetStore(
    "lsh_sig",
    lambda spark, sf_dir, path: write_store(
        lsh_signatures(spread(table(spark, sf_dir, "embeddings"), heavy=True), 64),
        path, "tbl", "bucket",
    ),
)


# Band-POSTINGS store: (tbl, bucket, members ARRAY<BIGINT>) — the
# signature index inverted at BUILD time, one row per bucket (at most
# LSH_TABLES x 2^LSH_PLANES_PER_TABLE = 2048 rows at ANY corpus size;
# the member arrays grow, the row count doesn't). A serve query probes
# its 8 buckets against this table instead of re-joining the corpus-
# sized signature index — the Lucene postings-list layout idx_bm25_serve
# uses, applied to LSH banding (VERDICT r6 #2).
_POST_STORE = SessionParquetStore(
    "lsh_postings",
    lambda spark, sf_dir, path: write_store(
        _SIG_STORE.df(spark, sf_dir)
        .groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("members")),
        path, "tbl", "bucket",
    ),
)


# Bucket-cardinality sidecar: (tbl, bucket, n) — fixed-width rows, row
# count bounded by LSH_TABLES x 2^LSH_PLANES_PER_TABLE = 2048 at ANY
# corpus size, so a full scan of it is O(1) IO forever. The serve probe
# reads THIS to decide the brute-force fallback driver-side instead of
# materializing `size(members)` off the postings store (whose member
# arrays are corpus-sized — computing sizes there would read the whole
# postings column at 100 TB). Kept as its own store rather than a column
# on lsh_postings because the anti-entropy audit (sim_ann_store_freshness)
# hash-compares the postings store's exact 3-column shape.
_BUCKET_STATS_STORE = SessionParquetStore(
    "lsh_bucket_stats",
    lambda spark, sf_dir, path: write_store(
        _SIG_STORE.df(spark, sf_dir)
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n")),
        path, "tbl", "bucket",
    ),
)


# --- Incremental ANN index maintenance ---------------------------------------
# Base postings over 90% of the corpus (vec_id % 10 != 7), built once per
# session; the remaining 10% plays the arriving batch. The upsert merges
# the DELTA's band postings into the base store with one full-outer join
# on (tbl, bucket) + row-local sorted-concat — index maintenance cost
# scales with the delta (signature pass over new vectors only + a
# 2048-row-bounded merge), never a corpus re-sign. The registered result
# is the merged postings table itself, hash-gated against a from-scratch
# SQL rebuild over ALL vectors — the incremental ≡ batch proof, the same
# contract idx_postings_merge carries for the inverted text index.
_BASE_POST_STORE = SessionParquetStore(
    "lsh_base_postings",
    lambda spark, sf_dir, path: write_store(
        lsh_signatures(
            spread(table(spark, sf_dir, "embeddings"), heavy=True).filter(
                F.col("vec_id") % 10 != 7
            ),
            64,
        )
        .groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("members")),
        path, "tbl", "bucket",
    ),
)


# Full-fidelity duckdb oracle for the LSH pipeline: the hyperplanes are
# md5-derived (cross-engine reproducible — same trick as md5_long), so the
# ORACLE REBUILDS THE WHOLE PIPELINE IN SQL — plane weights from md5, per-
# vector bucket bits via list_dot_product, the (tbl, bucket) candidate
# equi-join, exact cosine rerank, and the brute-force fallback for
# bucket-empty queries. This hash-checks the approximate operator END TO
# END (not a recall bound): every planted neighbor AND every fallback
# decision must match. Float risk is confined to sign(dot) at |dot|≈0 —
# with 64 ±0.5-weight terms the dot is O(1), so an engine-order rounding
# flip is measure-zero (verified identical at all three SFs).
# Shared signature-rebuild CTEs (w/e/bits/sig): plane weights from md5,
# per-vector bucket bits via list_dot_product — consumed by _LSH_ORACLE
# and the index-upsert oracle below.
_SIG_CTES = f"""w AS (
  SELECT p, list(CAST('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 15) AS BIGINT)
                 / pow(2.0, 60) * 2.0 - 1.0 ORDER BY d) AS wv
  FROM (SELECT UNNEST(range(0, {LSH_TABLES * LSH_PLANES_PER_TABLE})) AS p)
  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS d)
  GROUP BY p
),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
bits AS (
  SELECT vec_id, p // {LSH_PLANES_PER_TABLE} AS tbl, p % {LSH_PLANES_PER_TABLE} AS pl,
         CASE WHEN list_dot_product(v, wv) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN w
),
sig AS (
  SELECT vec_id, tbl, CAST(SUM(bit * CAST(pow(2.0, pl) AS BIGINT)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, tbl
)"""

_LSH_ORACLE = f"""
WITH {_SIG_CTES},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
qsig AS (SELECT s.vec_id AS qid, s.tbl, s.bucket FROM sig s JOIN q ON s.vec_id = q.qid),
cand AS (
  SELECT DISTINCT qs.qid, s.vec_id
  FROM sig s JOIN qsig qs ON s.tbl = qs.tbl AND s.bucket = qs.bucket
  WHERE s.vec_id <> qs.qid
),
scored AS (
  SELECT c.qid, c.vec_id AS cid, list_cosine_similarity(q.qv, e.v) AS c
  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.qid = c.qid
),
found AS (
  SELECT qid, cid AS neighbor_id FROM (
    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS rn
    FROM scored) WHERE rn = 1
),
missing AS (SELECT qid, qv FROM q WHERE qid NOT IN (SELECT qid FROM found)),
fb AS (
  SELECT qid, cid AS neighbor_id FROM (
    SELECT m.qid, e.vec_id AS cid,
           ROW_NUMBER() OVER (PARTITION BY m.qid
             ORDER BY list_cosine_similarity(m.qv, e.v) DESC, e.vec_id) AS rn
    FROM missing m JOIN e ON e.vec_id <> m.qid) WHERE rn = 1
)
SELECT qid, neighbor_id FROM found UNION ALL SELECT qid, neighbor_id FROM fb ORDER BY qid
"""


@register(
    "sim_ann_lsh",
    oracle=_LSH_ORACLE,
    tags=("similarity", "serve",),
    doc="Multi-table LSH approximate top-1 neighbor (8 tables × 8-bit "
    "hyperplane buckets, OR-construction): candidates = vectors sharing "
    "any table bucket with the query; queries whose buckets are empty fall "
    "back to brute force so the result is total. No quadratic stage; "
    "serve probes the session band-POSTINGS store (_POST_STORE — "
    "the signature index inverted at build, <= tables×2^bits rows) with "
    "the query's bucket keys and exact-reranks only the matched member "
    "lists — signatures are never recomputed and the corpus-sized "
    "signature table is never re-joined at serve time. "
    "Hash-matched END TO END against a full SQL rebuild of the pipeline "
    "(md5-derived planes are engine-reproducible — see _LSH_ORACLE), so "
    "this ANN entry is oracle-checked, not just recall-bounded.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Serve = store-probe + bounded rerank (the idx_bm25_serve pattern,
    # VERDICT r6 #2). The query's bucket signatures are looked up DRIVER-
    # side (a query-bounded N_QUERIES x LSH_TABLES pushed-down read of
    # the signature store — in a real serving system the query arrives
    # from outside and its signature is computed at the server, exactly
    # like sim_ann_ivf's probe prep); the distributed plan probes the
    # <=2048-row band-POSTINGS store with those literal keys, explodes
    # the matched member lists, and joins embeddings once for the
    # bounded rerank. ONE aggregate serves both the probed queries and
    # the brute-force fallback: missing = queries with zero candidates,
    # anti-joined on the CANDIDATE list (not on the aggregate's own
    # output, which would force a second aggregate + union of results).
    # Top-1 via max_by(cid, struct(c, -cid)) — hash aggregate with
    # map-side partial combine, (c DESC, cid ASC) tie-break; no distinct
    # on candidates (duplicate (qid,cid) rows carry identical c).
    #
    # vs the r5/r6 serve (qsig x full signature-table self-join),
    # measured at sf0.1 with 5x-interleaved runs: exchanges 22 -> 18 and
    # parquet scans 20 -> 12 under the audit count; wall time TIED
    # (medians 1.35 vs 1.44 s under heavy steal, ~0.75 vs ~0.73 s on the
    # earlier calmer run) — the local cost is the serial broadcast-job
    # chain (~8 jobs x ~40 ms floor), not the scans. The restructure is
    # kept for the 100 TB shape: a serve probe now touches O(bucket)
    # postings rows instead of re-scanning the corpus-sized signature
    # table per query.
    #
    # Round-9 shave attempt (VERDICT r8 #2), measured and REJECTED: a
    # variant that collected the query VECTORS, computed signatures
    # driver-side (numpy, bit-identical), and inlined qv as VALUES
    # literals — removing the q CTE join and one scan — spent 0.2-0.4 s
    # per invocation just PARSING/analyzing the 640-double-literal SQL,
    # a net loss (phase-timed: qcollect 0.10, build 0.32-0.52, exec
    # 0.71-1.10 under ~2.3x storm inflation vs the committed form's
    # bench row). The wall floor here is the serial multi-join stage
    # chain, not any single scan or collect; kept from that experiment
    # is only the bucket-IN literal pushdown on the postings scan (free
    # locally, row-group skip at scale).
    #
    # Round-10 shave (VERDICT r9 #3): the fallback decision moves to the
    # driver. The one probe action now tag-unions the query signatures
    # with the cardinality of each probed bucket from the bounded
    # (tbl, bucket, n) sidecar (2048 fixed-width rows at ANY corpus
    # size — never the corpus-proportional member arrays). A query's
    # buckets all contain the query itself (the store inverts the full
    # corpus), so it has a candidate iff ANY probed bucket holds >1
    # member — exactly the oracle's "found" set. Knowing the missing set
    # up front lets the serve plan DROP the anti-join + broadcast-
    # nested-loop fallback branch entirely on the (typical) all-found
    # path: the r9 plan's 9 exchanges / ~8 serial broadcast jobs shrink
    # to probe->rerank->agg (see tests/golden_plans.json). When queries ARE missing,
    # the brute-force branch comes back scoped to literal qids,
    # semantics unchanged.
    from bigdataindexing_spark.tables import table_view

    emb_view = table_view(spark, sf_dir, "embeddings")
    post_view = _POST_STORE.view(spark, sf_dir)
    sig_view = _SIG_STORE.view(spark, sf_dir)
    stats_view = _BUCKET_STATS_STORE.view(spark, sf_dir)
    fetched = spark.sql(f"""
        WITH qs AS (SELECT vec_id, tbl, bucket FROM {sig_view}
                    WHERE vec_id < {N_QUERIES})
        SELECT 'sig' AS kind, vec_id AS a, tbl AS b, bucket AS c FROM qs
        UNION ALL
        SELECT 'n' AS kind, s.n AS a, s.tbl AS b, s.bucket AS c
        FROM {stats_view} s
        JOIN (SELECT DISTINCT tbl, bucket FROM qs) k
          ON s.tbl = k.tbl AND s.bucket = k.bucket
    """).collect()
    qsig = [r for r in fetched if r["kind"] == "sig"]
    bucket_n = {(r["b"], r["c"]): r["a"] for r in fetched if r["kind"] == "n"}
    by_qid: dict[int, list] = {}
    for r in qsig:
        by_qid.setdefault(r["a"], []).append((r["b"], r["c"]))
    missing_qids = sorted(
        qid
        for qid, keys in by_qid.items()
        if all(bucket_n.get(k, 0) <= 1 for k in keys)
    )
    probe_values = ", ".join(
        f"({r['a']}L, {r['b']}, {r['c']}L)" for r in qsig
    )
    if probe_values:
        # pushed into the postings scan (the store sorts by (tbl,
        # bucket)), so at 100 TB the probe row-group-skips straight to
        # its buckets instead of filtering post-scan; <= 80 literals
        bucket_filter = "p.bucket IN ({})".format(
            ", ".join(sorted({f"{r['c']}L" for r in qsig}))
        )
    else:
        # no queries in the corpus -> one NULL-qid row that joins
        # nothing, keeping the VALUES clause well-formed (the result is
        # then empty, matching the oracle; bare 'VALUES' is a
        # ParseException)
        probe_values = "(CAST(NULL AS BIGINT), -1, CAST(-1 AS BIGINT))"
        bucket_filter = "FALSE"
    cos = (
        "aggregate(zip_with({q}, {v}, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
        " / (sqrt(aggregate(transform({q}, a -> a * a), 0.0D, (acc, x) -> acc + x))"
        " * sqrt(aggregate(transform({v}, a -> a * a), 0.0D, (acc, x) -> acc + x)))"
    )
    probed = f"""
        SELECT c.qid, c.cid, {cos.format(q='q.qv', v='e.v')} AS c
        FROM cand c JOIN e ON e.vec_id = c.cid JOIN q ON q.qid = c.qid"""
    if missing_qids:
        # brute-force branch, scoped to the driver-known missing qids
        # (literal IN pushes into q's scan; the corpus scan on the right
        # side is the price of totality, paid only when a query's
        # buckets are all singletons)
        miss_in = ", ".join(f"{int(m)}L" for m in missing_qids)
        fallback = f"""
        UNION ALL
        SELECT mi.qid, e.vec_id AS cid, {cos.format(q='mi.qv', v='e.v')} AS c
        FROM (SELECT qid, qv FROM q WHERE qid IN ({miss_in})) mi
        JOIN e ON e.vec_id <> mi.qid"""
    else:
        fallback = ""
    return spark.sql(f"""
        WITH e AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM {emb_view}),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        qsig AS (SELECT * FROM VALUES {probe_values} AS t(qid, tbl, bucket)),
        cand AS (
          SELECT qs.qid, mem.cid
          FROM qsig qs JOIN {post_view} p
            ON p.tbl = qs.tbl AND p.bucket = qs.bucket AND {bucket_filter}
          LATERAL VIEW explode(p.members) mem AS cid
          WHERE mem.cid <> qs.qid
        ),
        scored AS ({probed}{fallback}
        )
        SELECT qid, max_by(cid, struct(c, -cid)) AS neighbor_id
        FROM scored GROUP BY qid ORDER BY qid
    """)


@register(
    "sim_ann_index_upsert",
    oracle="WITH " + _SIG_CTES + " "
    "SELECT tbl, bucket, COUNT(*) AS n_members, "
    "md5(array_to_string(list_sort(list(vec_id)), ',')) AS members_md5 "
    "FROM sig GROUP BY tbl, bucket ORDER BY tbl, bucket",
    # py_floor: the delta signature pass is a real Arrow mapInPandas
    # stage, so every invocation carries the ~0.3s Python-worker
    # round-trip — that IS the maintenance work, labeled so the bench
    # ratio reads as the Python floor, not a plan defect
    tags=("similarity", "index", "serve", "py_floor"),
    doc="Incremental ANN index maintenance: a batch of new vectors "
    "(vec_id % 10 = 7 plays the arrival) upserts into the session base "
    "band-postings store via ONE full-outer join on (tbl, bucket) with "
    "row-local sorted-concat of the member lists — maintenance cost is "
    "a signature pass over the DELTA plus a bucket-count-bounded merge "
    "(<= tables×2^bits rows), never a corpus re-sign. The registered "
    "result is the merged postings table itself, hash-gated against a "
    "from-scratch SQL rebuild over ALL vectors (md5-derived planes, see "
    "_SIG_CTES) — the incremental ≡ batch contract idx_postings_merge "
    "carries for the text index, applied to the ANN serving layer. At "
    "100 TB this is how the LSH index tracks an append-only corpus: "
    "nightly deltas fold into bucket postings partitioned by (tbl, "
    "bucket), and serve queries (sim_ann_lsh) probe the merged store. "
    "The posting list itself is asserted through its length and the md5 "
    "of its comma-joined sorted ids — scalar columns hash across "
    "engines, raw array columns do not (the idx_postings_merge "
    "canonicalization, index/search.py).",
)
def sim_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached store handle (resolved file index, no per-serve re-listing)
    base = _BASE_POST_STORE.df(spark, sf_dir)
    # NO spread fan-out for the delta: the arrival batch is small by
    # definition of incremental maintenance, and repartitioning its
    # embedding arrays to 32 tasks cost more than the 8-file scan's
    # natural parallelism saved (measured interleaved at sf0.1:
    # 0.92s fanned vs 0.66s natural). A production-size delta arrives
    # as many files and parallelizes for free (guide §2.4 — the
    # repartition was an accidental exchange).
    delta = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 7
    )
    dpost = (
        lsh_signatures(delta, 64)
        .groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("d_members"))
    )
    merged = (
        base.join(dpost, ["tbl", "bucket"], "full_outer")
        .select(
            "tbl",
            "bucket",
            F.sort_array(
                F.concat(
                    F.coalesce(F.col("members"), F.array().cast("array<bigint>")),
                    F.coalesce(F.col("d_members"), F.array().cast("array<bigint>")),
                )
            ).alias("members"),
        )
        .select(
            "tbl",
            "bucket",
            F.size("members").cast("long").alias("n_members"),
            F.md5(
                F.array_join(
                    F.transform("members", lambda x: x.cast("string")), ","
                )
            ).alias("members_md5"),
        )
    )
    return bounded_sort(merged, "tbl", "bucket", barrier=True)


@register(
    "sim_ann_label_partition",
    oracle="WITH e AS (SELECT vec_id, label, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    f"q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e "
    f"WHERE vec_id < {N_QUERIES}), "
    "s AS (SELECT qid, e.vec_id AS cid, list_cosine_similarity(qv, e.v) AS c "
    "FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.qid), "
    "r AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid "
    "ORDER BY c DESC, cid) AS rn FROM s) "
    "SELECT qid, cid AS neighbor_id FROM r WHERE rn = 1 ORDER BY qid",
    tags=("similarity",),
    bench=False,
    doc="IVF-style partition-pruned search: candidates restricted to the "
    "query's coarse cell (here the `label` column stands in for a centroid "
    "assignment). The cell key is an equi-join key ⇒ partition pruning, "
    "1/K of the corpus scanned per query.",
)
def sim_ann_label_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid", F.col("vec_id").alias("cid"), cosine("qv", "v").alias("c")
    )
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("cid"))
    return (
        scored.select("qid", "cid", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("neighbor_id"))
        .transform(lambda d: bounded_sort(d, "qid", barrier=True))
    )


# --- IVF: trained coarse quantizer + cell-pruned search -----------------------

IVF_CELLS = 16
IVF_NPROBE = 3
IVF_TRAIN_SAMPLE = 512
IVF_KMEANS_ITERS = 5
EMB_DIM = 64

# Cross-engine determinism contract for the trained-quantizer family
# (IVF / PQ / IVF-PQ): every floating quantity that an engine COMPARES
# against another engine's computation of the same quantity — k-means
# distances, centroid means, ADC lookup-table entries, ADC scores, rerank
# cosines — is quantized half-up to 1e-9 with the SAME explicit formula
# (floor(x*1e9 + 0.5)/1e9) in numpy, Spark SQL, and duckdb. After each
# quantization both engines carry bit-identical values forward, so
# float-summation-order drift (~1e-16) cannot CASCADE across the 5 Lloyd
# iterations; residual risk is a value landing within ~1e-16 of a 1e-9
# grid boundary — the same measure-zero class as _LSH_ORACLE's
# sign(dot)≈0, verified empirically at all three SFs. This is what turns
# the approximate ANN operators from recall-contract-only into FULL
# hash-oracle entries: the duckdb oracle rebuilds k-means training,
# codebooks, cell assignment, ADC and rerank end to end in SQL.


def _q9np(x):
    """Half-up 1e-9 quantize (numpy) — see determinism contract above."""
    import numpy as np

    return np.floor(x * 1e9 + 0.5) / 1e9


def _q9sql(e: str) -> str:
    """The same quantize as a SQL fragment (duckdb and Spark SQL parse
    it identically; FLOOR of a <2^53 double is exact in both)."""
    return f"FLOOR(({e}) * 1e9 + 0.5) / 1e9"


def train_centroids(emb: DataFrame) -> "list[list[float]]":
    """Deterministic coarse quantizer: Lloyd's k-means on a fixed sample.

    Standard IVF practice at any scale — the quantizer trains on a driver-
    side sample (here the first IVF_TRAIN_SAMPLE vectors by vec_id, so the
    result is reproducible), then ships to executors as a broadcast-sized
    constant (16×64 doubles). The full corpus is never collected.
    Distances and means are 1e-9-quantized each iteration so the duckdb
    oracle's SQL rebuild of the same training loop stays bit-identical
    (see the determinism contract above); ties in the assignment argmin
    break to the smallest cell id in both engines.
    """
    import numpy as np

    sample = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .filter(F.col("vec_id") < IVF_TRAIN_SAMPLE)
        .orderBy("vec_id")
        .collect()
    )
    X = np.asarray([r["v"] for r in sample])
    C = X[:IVF_CELLS].copy()  # deterministic init: first K sample vectors
    for _ in range(IVF_KMEANS_ITERS):
        d = _q9np(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
        assign = d.argmin(axis=1)  # first-min = smallest cell id on ties
        for k in range(IVF_CELLS):
            members = X[assign == k]
            if len(members):
                C[k] = _q9np(members.mean(axis=0))
    return C.tolist()


def assign_cells(emb: DataFrame, centroids: "list[list[float]]") -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, one numpy pass.
    Quantized distances + smallest-cell tie-break (determinism contract)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        C = np.asarray(centroids)
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "cell": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype("float64")
            d = _q9np(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": d.argmin(axis=1)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        batches, "vec_id BIGINT, cell INT"
    )


# --- duckdb SQL rebuilds of the trained-quantizer pipelines ------------------
# Shared CTE fragments. Naming: s = training sample (with rank), cN =
# coarse centroids after N Lloyd iterations, e = full corpus, ecell =
# corpus cell assignment, q = query vectors, probe = per-query nprobe
# cells, bN = PQ sub-codebooks after N iterations, codes = corpus PQ
# codes, lut = per-query flattened ADC table. duckdb lists are 1-based —
# every index computed in 0-based operator space gets a +1 here.

_D2_SAMPLE = (
    f"list_sum(list_transform(range(0, {EMB_DIM}), ii -> "
    "(s.v[ii+1] - c.cv[ii+1]) * (s.v[ii+1] - c.cv[ii+1])))"
)
_D2_CORPUS = (
    f"list_sum(list_transform(range(0, {EMB_DIM}), ii -> "
    "(e.v[ii+1] - c.cv[ii+1]) * (e.v[ii+1] - c.cv[ii+1])))"
)
_D2_QUERY = (
    f"list_sum(list_transform(range(0, {EMB_DIM}), ii -> "
    "(q.qv[ii+1] - c.cv[ii+1]) * (q.qv[ii+1] - c.cv[ii+1])))"
)


def _coarse_ctes() -> str:
    """CTEs: sample s, k-means iterations c0..cN, corpus e/ecell, q, probe."""
    parts = [
        f"""s AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
  FROM embeddings WHERE vec_id < {IVF_TRAIN_SAMPLE}),
c0 AS (SELECT rn - 1 AS cell, v AS cv FROM s WHERE rn <= {IVF_CELLS})"""
    ]
    for i in range(1, IVF_KMEANS_ITERS + 1):
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY {_q9sql(_D2_SAMPLE)}, c.cell) AS r
    FROM s CROSS JOIN c{i - 1} c) t WHERE r = 1),
m{i} AS (
  SELECT a.cell, t.d, {_q9sql("AVG(s.v[t.d + 1])")} AS mx
  FROM a{i} a JOIN s ON s.vec_id = a.vec_id
  CROSS JOIN (SELECT UNNEST(range(0, {EMB_DIM})) AS d) t
  GROUP BY a.cell, t.d),
c{i} AS (
  SELECT c.cell, COALESCE(m.cv, c.cv) AS cv
  FROM c{i - 1} c LEFT JOIN (
    SELECT cell, list(mx ORDER BY d) AS cv FROM m{i} GROUP BY cell) m
  ON m.cell = c.cell)"""
        )
    cf = f"c{IVF_KMEANS_ITERS}"
    parts.append(
        f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
ecell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_q9sql(_D2_CORPUS)}, c.cell) AS r
    FROM e CROSS JOIN {cf} c) t WHERE r = 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {_q9sql(_D2_QUERY)}, c.cell) AS r
    FROM q CROSS JOIN {cf} c) t WHERE r <= {IVF_NPROBE})"""
    )
    return ",\n".join(parts)


_TOP1_TAIL = """
SELECT qid, cid AS neighbor_id FROM (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS r
  FROM rr) t WHERE r = 1 ORDER BY qid"""


def _ivf_oracle() -> str:
    return (
        "WITH "
        + _coarse_ctes()
        + f""",
rr AS (
  SELECT p.qid, e.vec_id AS cid,
         {_q9sql("list_cosine_similarity(q.qv, e.v)")} AS c
  FROM probe p JOIN ecell ec ON ec.cell = p.cell
  JOIN e ON e.vec_id = ec.vec_id
  JOIN q ON q.qid = p.qid
  WHERE e.vec_id <> p.qid)"""
        + _TOP1_TAIL
    )


def _nprobe_cells(centroids, qv) -> "list[int]":
    """The query's IVF_NPROBE nearest cells by quantized distance, ties to
    the smaller cell id (stable argsort) — matches the oracle's
    ROW_NUMBER() ... ORDER BY d, cell."""
    import numpy as np

    C = np.asarray(centroids)
    d = _q9np(((C - np.asarray(qv)[None, :]) ** 2).sum(axis=1))
    return [int(c) for c in np.argsort(d, kind="stable")[:IVF_NPROBE]]


def _q9col(c):
    """Half-up 1e-9 quantize as a Spark Column (floor of a <2^53 double
    is exact, so the value equals the numpy/duckdb formula bit for bit).
    Delegates to the shared repo-wide idiom (tables.half_up_col)."""
    from bigdataindexing_spark.tables import half_up_col

    return half_up_col(c, 9)


@register(
    "sim_ann_ivf",
    oracle=_ivf_oracle(),
    tags=("similarity",),
    bench=False,
    doc="IVF ANN with a TRAINED coarse quantizer: k-means centroids from a "
    "deterministic sample, nearest-cell assignment as an Arrow-batched "
    "pass, search probes the query's IVF_NPROBE closest cells and exact-"
    "reranks only those candidates (~nprobe/cells of the corpus). "
    "Queries never meet vectors outside their probed cells, so the "
    "pair space is pruned by the cell equi-join exactly like a partition-"
    "pruned scan. FULL hash oracle: the duckdb SQL rebuilds the k-means "
    "training loop, the corpus cell assignment, the probe selection and "
    "the cosine rerank end to end under the 1e-9 quantization contract "
    "(see module comment) — values, not just recall, are gate-checked.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"))
    centroids = train_centroids(emb)
    cells = assign_cells(emb, centroids)
    e = emb.select("vec_id", as_double("embedding").alias("v")).join(
        cells, "vec_id"
    )

    # per-query probe list: nprobe nearest centroids (driver-side math on
    # the collected query vectors only — N_QUERIES rows)
    qrows = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .filter(F.col("vec_id") < N_QUERIES)
        .collect()
    )
    probe_rows = []
    for r in qrows:
        for cell in _nprobe_cells(centroids, r["v"]):
            probe_rows.append((r["vec_id"], r["v"], cell))
    probes = spark.createDataFrame(
        probe_rows, "qid BIGINT, qv ARRAY<DOUBLE>, cell INT"
    )

    scored = e.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("cid"),
        _q9col(cosine("qv", "v")).alias("c"),
    )
    # top-1 as MIN(struct(-c, cid)) — one hash aggregate with map-side
    # partial combine (the q25 shape), not a per-partition sort window
    return (
        scored.groupBy("qid")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("cid"))).alias("b"))
        .select("qid", F.col("b.cid").alias("neighbor_id"))
        .transform(lambda d: bounded_sort(d, "qid", barrier=True))
    )


KNN_K = 5


@register(
    "q73_knn_classify",
    oracle="WITH e AS (SELECT vec_id, label, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    f"q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}), "
    "s AS (SELECT qid, vec_id AS cid, label, "
    "ROUND(list_cosine_similarity(qv, v), 9) AS c "
    f"FROM q CROSS JOIN e WHERE vec_id >= {N_QUERIES}), "
    "r AS (SELECT qid, label, ROW_NUMBER() OVER (PARTITION BY qid "
    f"ORDER BY c DESC, cid) AS rn FROM s), "
    f"votes AS (SELECT qid, label, COUNT(*) AS n FROM r WHERE rn <= {KNN_K} "
    "GROUP BY qid, label) "
    "SELECT qid, label AS pred FROM (SELECT qid, label, "
    "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, label) AS v "
    "FROM votes) WHERE v = 1 ORDER BY qid",
    tags=("similarity", "ml"),
    doc="kNN majority-vote classification: each query vector takes the "
    "modal label of its 5 nearest labeled neighbors by cosine. The "
    "standard ML consumer of the ANN layer — same broadcast-query / "
    "scan-parallel shape as q25, plus a per-query vote aggregate whose "
    "input is only q*k rows. Cosine is rounded to 9 decimals BEFORE "
    "ranking so boundary ties at the k-th neighbor break on cid "
    "identically in both engines (raw float order at ~1e-16 is not "
    "cross-engine deterministic). Scale path: swap the brute-force "
    "scorer for sim_ann_lsh candidates; the vote stage is unchanged.",
)
def q73_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    # No spread() fan-out: with Q broadcast queries the pair space is
    # Q * N rows — at the test scale that is ~20k cosines, far below the
    # cost of the repartition shuffle the fan-out inserts (measured
    # 0.64s -> 0.36s dropping it at sf0.1). A real-scale corpus arrives
    # as many files and parallelizes at the scan.
    #
    # One aggregate instead of two ranking windows: collect (−c, cid,
    # label), sort ascending (= c desc, cid asc), slice the top k, then
    # the majority vote is a row-local array expression — label with the
    # largest count, ties to the smaller label, exactly the oracle's
    # (n DESC, label) rank. Collapses rank-window → groupBy-count →
    # vote-window (3 shuffling stages over every scored pair) into one
    # shuffle keyed by qid. Single-SQL (one driver round-trip).
    emb = table_view(spark, sf_dir, "embeddings")
    cos = (
        "aggregate(zip_with(qv, v, (x, y) -> x * y), 0.0D, (s, v) -> s + v)"
        " / (sqrt(aggregate(transform(qv, x -> x * x), 0.0D, (s, v) -> s + v))"
        " * sqrt(aggregate(transform(v, x -> x * x), 0.0D, (s, v) -> s + v)))"
    )
    result = spark.sql(f"""
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS array<double>) AS v
          FROM {emb}
        ),
        q AS (
          SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
          SELECT /*+ BROADCAST(q) */ qid, vec_id AS cid, label,
                 -ROUND({cos}, 9) AS nc
          FROM e JOIN q ON vec_id >= {N_QUERIES}
        ),
        top AS (
          SELECT qid,
                 slice(sort_array(collect_list(struct(nc, cid, label))),
                       1, {KNN_K}) AS top
          FROM scored GROUP BY qid
        )
        SELECT qid,
               array_min(transform(
                 array_distinct(transform(top, x -> x.label)),
                 l -> named_struct(
                   'n', -size(filter(top, x -> x.label = l)), 'lab', l)
               )).lab AS pred
        FROM top
    """)
    return bounded_sort(result, "qid", barrier=True)


@register(
    "sim_semantic_clusters",
    bench=False,  # quadratic oracle formulation, like sim_cosine_neardup
    oracle="WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b "
    "FROM e a JOIN e b ON a.vec_id < b.vec_id "
    f"WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_NEARDUP_TAU}), "
    "und AS (SELECT vec_a AS s, vec_b AS t FROM p "
    "UNION ALL SELECT vec_b, vec_a FROM p), "
    "reach(s, t) AS (SELECT s, t FROM und "
    "UNION SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s) "
    "SELECT s AS vec_id, LEAST(s, MIN(t)) AS cluster FROM reach "
    "GROUP BY s ORDER BY vec_id",
    tags=("similarity", "dedup", "iterative"),
    doc="Semantic dedup clustering (the SemDeDup shape): connected "
    "components over the embedding-cosine near-dup graph (cos ≥ 0.45), "
    "cluster id = min vec_id — a pipeline keeps one representative per "
    "semantic cluster. Reuses the shared min-label-propagation loop "
    "(operators/dedup.cc_labels) over the cosine pair list; at 100 TB "
    "the pair generation swaps to the LSH-bucketed candidates "
    "(sim_ann_lsh's banding) and the component loop is unchanged — the "
    "quadratic exact pair join here is the test-scale oracle-matched "
    "formulation. Oracle: duckdb recursive-CTE transitive closure over "
    "the same pair predicate.",
)
def sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.operators.dedup import cc_labels

    pairs = sim_cosine_neardup(spark, sf_dir)
    return (
        cc_labels(pairs, "vec_a", "vec_b")
        .select(F.col("id").alias("vec_id"), F.col("label").alias("cluster"))
        .orderBy("vec_id")
    )


# --- Product quantization (PQ) ANN ------------------------------------
# The memory-bound ANN technique IVF composes with at 100 TB (FAISS's
# IVFPQ): vectors compress to M sub-codebook codes (here 4 bytes instead
# of 512), the approximate search scans CODES with a per-query lookup
# table, and only a bounded shortlist is exact-reranked against true
# vectors. Scan/shuffle volume for the approximate pass drops by the
# compression ratio — the difference between "the index fits in RAM"
# and "it doesn't" at corpus scale.
PQ_M = 8          # subvectors per embedding (64 dims -> 8 x 8)
PQ_K = 16         # centroids per sub-codebook (4-bit codes)
PQ_SHORTLIST = 50  # ADC shortlist size fed to the exact reranker

def _build_pq_codes(spark: SparkSession, sf_dir: str, path: str) -> list:
    """Train per-subspace codebooks (deterministic Lloyd's on the same
    bounded driver sample the IVF quantizer uses) and materialize the
    corpus code table once per session — codes are a corpus property,
    the same build-once/serve-many policy as every other store. The
    codebooks are the store's driver-side metadata."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    sample = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .filter(F.col("vec_id") < IVF_TRAIN_SAMPLE)
        .orderBy("vec_id")
        .collect()
    )
    X = np.asarray([r["v"] for r in sample])
    d_sub = X.shape[1] // PQ_M
    books = []
    for m in range(PQ_M):
        Xm = X[:, m * d_sub:(m + 1) * d_sub]
        C = Xm[:PQ_K].copy()  # deterministic init: first K sample rows
        for _ in range(IVF_KMEANS_ITERS):
            # quantized distances/means: the determinism contract that
            # lets the duckdb oracle rebuild this loop bit-identically
            d = _q9np(((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
            a = d.argmin(axis=1)
            for k in range(PQ_K):
                members = Xm[a == k]
                if len(members):
                    C[k] = _q9np(members.mean(axis=0))
        books.append(C.tolist())

    def encode(it):
        import numpy as np
        import pandas as pd

        B = [np.asarray(b) for b in books]
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "codes": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype("float64")
            codes = np.empty((len(V), PQ_M), dtype="int32")
            for m in range(PQ_M):
                Vm = V[:, m * d_sub:(m + 1) * d_sub]
                d = _q9np(((Vm[:, None, :] - B[m][None, :, :]) ** 2).sum(axis=2))
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    write_store(
        emb.select("vec_id", "embedding").mapInPandas(
            encode, "vec_id BIGINT, codes ARRAY<INT>"
        ),
        path,
    )
    return books


_PQ_CODES = SessionParquetStore("pq_codes", _build_pq_codes)


_D_SUB = EMB_DIM // PQ_M


def _pq_ctes() -> str:
    """CTEs: sub-codebook training b0..bN (per-subspace k-means, identical
    loop to _coarse_ctes but keyed by subspace m), corpus codes, per-query
    flattened ADC lookup table. Requires _coarse_ctes' s/e/q CTEs."""
    pd2 = (
        f"list_sum(list_transform(range(0, {_D_SUB}), ii -> "
        "(sub.sv[ii+1] - b.cv[ii+1]) * (sub.sv[ii+1] - b.cv[ii+1])))"
    )
    ed2 = (
        f"list_sum(list_transform(range(0, {_D_SUB}), ii -> "
        "(esub.sv[ii+1] - b.cv[ii+1]) * (esub.sv[ii+1] - b.cv[ii+1])))"
    )
    lut_ip = (
        f"list_sum(list_transform(range(0, {_D_SUB}), ii -> "
        f"b.cv[ii+1] * q.qv[b.m * {_D_SUB} + ii + 1]))"
    )
    parts = [
        f"""mm AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
sub AS (
  SELECT s.vec_id, s.rn, mm.m,
         list_transform(range(0, {_D_SUB}),
                        ii -> s.v[mm.m * {_D_SUB} + ii + 1]) AS sv
  FROM s CROSS JOIN mm),
b0 AS (SELECT m, rn - 1 AS k, sv AS cv FROM sub WHERE rn <= {PQ_K})"""
    ]
    for i in range(1, IVF_KMEANS_ITERS + 1):
        parts.append(
            f"""pa{i} AS (
  SELECT vec_id, m, k FROM (
    SELECT sub.vec_id, sub.m, b.k,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
             ORDER BY {_q9sql(pd2)}, b.k) AS r
    FROM sub JOIN b{i - 1} b ON b.m = sub.m) t WHERE r = 1),
pm{i} AS (
  SELECT a.m, a.k, t.d, {_q9sql("AVG(sub.sv[t.d + 1])")} AS mx
  FROM pa{i} a JOIN sub ON sub.vec_id = a.vec_id AND sub.m = a.m
  CROSS JOIN (SELECT UNNEST(range(0, {_D_SUB})) AS d) t
  GROUP BY a.m, a.k, t.d),
b{i} AS (
  SELECT b.m, b.k, COALESCE(n.cv, b.cv) AS cv
  FROM b{i - 1} b LEFT JOIN (
    SELECT m, k, list(mx ORDER BY d) AS cv FROM pm{i} GROUP BY m, k) n
  ON n.m = b.m AND n.k = b.k)"""
        )
    bf = f"b{IVF_KMEANS_ITERS}"
    parts.append(
        f"""esub AS (
  SELECT e.vec_id, mm.m,
         list_transform(range(0, {_D_SUB}),
                        ii -> e.v[mm.m * {_D_SUB} + ii + 1]) AS sv
  FROM e CROSS JOIN mm),
ecode AS (
  SELECT vec_id, m, k FROM (
    SELECT esub.vec_id, esub.m, b.k,
           ROW_NUMBER() OVER (PARTITION BY esub.vec_id, esub.m
             ORDER BY {_q9sql(ed2)}, b.k) AS r
    FROM esub JOIN {bf} b ON b.m = esub.m) t WHERE r = 1),
codes AS (SELECT vec_id, list(k ORDER BY m) AS codes FROM ecode GROUP BY vec_id),
lutv AS (
  SELECT q.qid, b.m, b.k, {_q9sql(lut_ip)} AS w
  FROM q CROSS JOIN {bf} b),
lut AS (SELECT qid, list(w ORDER BY m * {PQ_K} + k) AS lut
        FROM lutv GROUP BY qid)"""
    )
    return ",\n".join(parts)


# ADC score: duckdb lists are 1-based — codes[m+1] is the m-th code,
# lut[flat_index + 1] the (m, code) LUT entry. The LUT entries are 1e-9-
# quantized, but the 8-term sum's rounding still depends on engine
# addition order, so the sum is quantized again before ranking.
_ADC_IP = _q9sql(
    f"list_sum(list_transform(range(0, {PQ_M}), "
    f"m -> l.lut[m * {PQ_K} + c.codes[m + 1] + 1]))"
)

_PQ_TAIL = f"""
sl AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, cid) AS r
    FROM adc) t WHERE r <= {PQ_SHORTLIST}),
rr AS (
  SELECT sl.qid, sl.cid,
         {_q9sql("list_cosine_similarity(q.qv, e.v)")} AS c
  FROM sl JOIN e ON e.vec_id = sl.cid JOIN q ON q.qid = sl.qid)"""


def _pq_oracle() -> str:
    return (
        "WITH "
        + _coarse_ctes()
        + ",\n"
        + _pq_ctes()
        + f""",
adc AS (
  SELECT l.qid, c.vec_id AS cid, {_ADC_IP} AS ip
  FROM codes c CROSS JOIN lut l WHERE c.vec_id <> l.qid),"""
        + _PQ_TAIL
        + _TOP1_TAIL
    )


def _ivfpq_oracle() -> str:
    return (
        "WITH "
        + _coarse_ctes()
        + ",\n"
        + _pq_ctes()
        + f""",
adc AS (
  SELECT p.qid, c.vec_id AS cid, {_ADC_IP} AS ip
  FROM probe p JOIN ecell ec ON ec.cell = p.cell
  JOIN codes c ON c.vec_id = ec.vec_id
  JOIN lut l ON l.qid = p.qid
  WHERE c.vec_id <> p.qid),"""
        + _PQ_TAIL
        + _TOP1_TAIL
    )


@register(
    "sim_ann_pq",
    oracle=_pq_oracle(),
    tags=("similarity", "serve"),
    bench=False,
    doc="Product-quantization ANN (the FAISS IVFPQ building block): each "
    "embedding compresses to 8 sub-codebook codes (8 bytes vs 512), the "
    "approximate pass scans only the CODE table scoring via a per-query "
    "inner-product lookup table (asymmetric distance computation — a "
    "row-local array index per subspace, no vector math), and the top-"
    f"{PQ_SHORTLIST} shortlist per query is exact-reranked against true "
    "vectors (candidate-bounded join, the same verify shape as LSH "
    "dedup). Codebooks train on the bounded driver sample the IVF "
    "quantizer uses; the code table is a session-materialized store. "
    "At 100 TB the ADC scan touches ~1% of the bytes a brute-force "
    "cosine reads — the compression is what keeps a corpus-scale ANN "
    "index memory-resident.",
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    codes = _PQ_CODES.df(spark, sf_dir)
    books = _PQ_CODES.meta(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    d_sub = len(books[0][0])
    qrows = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .filter(F.col("vec_id") < N_QUERIES)
        .collect()
    )
    B = [np.asarray(b) for b in books]
    q_data = []
    for r in qrows:
        qv = np.asarray(r["v"])
        lut = []
        for m in range(PQ_M):
            qm = qv[m * d_sub:(m + 1) * d_sub]
            # quantized LUT entries (determinism contract): the oracle
            # recomputes them in SQL and must land on the same doubles
            lut.extend(float(x) for x in _q9np(B[m] @ qm))
        q_data.append((r["vec_id"], lut, [float(x) for x in qv]))
    queries = spark.createDataFrame(
        q_data, "qid BIGINT, lut ARRAY<DOUBLE>, qv ARRAY<DOUBLE>"
    )
    # ADC: approximate inner product = sum over subspaces of the LUT entry
    # for that subspace's code — array lookups, no arithmetic on vectors.
    # The 8-term sum is re-quantized before ranking (addition order is
    # engine-specific even over quantized inputs).
    adc = (
        codes.crossJoin(F.broadcast(queries.select("qid", "lut")))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.expr(
                _q9sql(
                    f"aggregate(sequence(0, {PQ_M - 1}), 0.0D, "
                    f"(acc, m) -> acc + lut[m * {PQ_K} + codes[m]])"
                )
            ).alias("ip"),
        )
    )
    shortlist = (
        adc.groupBy("qid")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("ip")).alias("ni"), "cid"))
                ),
                1,
                PQ_SHORTLIST,
            ).alias("top")
        )
        .select("qid", F.explode(F.expr("transform(top, x -> x.cid)")).alias("cid"))
    )
    # exact rerank of the bounded shortlist only (quantized cosine so the
    # oracle's list_cosine_similarity lands on the same ranking)
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    reranked = (
        shortlist.join(e, "cid")
        .join(F.broadcast(queries.select("qid", "qv")), "qid")
        .select("qid", "cid", _q9col(cosine("qv", "v")).alias("c"))
    )
    return (
        reranked.groupBy("qid")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("cid"))).alias("b"))
        .select("qid", F.col("b.cid").alias("neighbor_id"))
        .transform(lambda d: bounded_sort(d, "qid", barrier=True))
    )


@register(
    "sim_ann_ivfpq",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "serve"),
    bench=False,
    doc="IVF-PQ ANN — the FAISS IVFPQ composite and the standard "
    "billion-scale serving layout: the IVF coarse quantizer prunes the "
    "search to the query's IVF_NPROBE nearest cells (partition pruning), "
    "ADC scores ONLY the probed cells' PQ codes via broadcast per-query "
    "lookup tables (8-byte codes, no vector arithmetic), and a bounded "
    "PQ_SHORTLIST is exact-reranked. Both index sides are session stores "
    "(cell assignment + code table); per-query cost is "
    "O(nprobe/cells · corpus-codes) ADC lookups + O(shortlist) exact "
    "dots — the corpus embeddings are touched only for the shortlist. "
    "At 100 TB the cell is the partition key, so a probe is a "
    "partition-pruned scan of compressed codes, memory-resident where "
    "raw vectors never could be.",
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = spread(table(spark, sf_dir, "embeddings"))
    centroids = train_centroids(emb)
    cells = assign_cells(emb, centroids)
    codes = _PQ_CODES.df(spark, sf_dir).join(cells, "vec_id")
    books = _PQ_CODES.meta(spark, sf_dir)
    d_sub = len(books[0][0])

    # driver-side per-query prep, bounded to N_QUERIES rows: nprobe
    # nearest cells (coarse quantizer, quantized stable argsort) + the
    # ADC lookup table (PQ_M x PQ_K quantized inner products against the
    # sub-codebooks) — both under the module determinism contract
    B = [np.asarray(b) for b in books]
    qrows = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .filter(F.col("vec_id") < N_QUERIES)
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["v"])
        lut = []
        for m in range(PQ_M):
            qm = qv[m * d_sub:(m + 1) * d_sub]
            lut.extend(float(x) for x in _q9np(B[m] @ qm))
        for cell in _nprobe_cells(centroids, r["v"]):
            probe_rows.append(
                (r["vec_id"], cell, lut, [float(x) for x in qv])
            )
    probes = spark.createDataFrame(
        probe_rows, "qid BIGINT, cell INT, lut ARRAY<DOUBLE>, qv ARRAY<DOUBLE>"
    )

    # ADC inside probed cells only: the cell equi-join IS the pruning —
    # a query never meets codes outside its nprobe cells. The 8-term sum
    # re-quantizes before ranking (engine-specific addition order).
    adc = (
        codes.join(F.broadcast(probes.select("qid", "cell", "lut")), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.expr(
                _q9sql(
                    f"aggregate(sequence(0, {PQ_M - 1}), 0.0D, "
                    f"(acc, m) -> acc + lut[m * {PQ_K} + codes[m]])"
                )
            ).alias("ip"),
        )
    )
    shortlist = (
        adc.groupBy("qid")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("ip")).alias("ni"), "cid"))
                ),
                1,
                PQ_SHORTLIST,
            ).alias("top")
        )
        .select("qid", F.explode(F.expr("transform(top, x -> x.cid)")).alias("cid"))
    )
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    reranked = (
        shortlist.join(e, "cid")
        .join(
            F.broadcast(probes.select("qid", "qv").dropDuplicates(["qid"])),
            "qid",
        )
        .select("qid", "cid", _q9col(cosine("qv", "v")).alias("c"))
    )
    return (
        reranked.groupBy("qid")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("cid"))).alias("b"))
        .select("qid", F.col("b.cid").alias("neighbor_id"))
        .transform(lambda d: bounded_sort(d, "qid", barrier=True))
    )


# --- SemDeDup-style semantic dedup (round 8) ----------------------------------

SEM_TAU = COSINE_NEARDUP_TAU  # within-cell near-dup threshold


def _semantic_dedup_oracle() -> str:
    return (
        "WITH "
        + _coarse_ctes()
        + f""",
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM ecell a JOIN ecell b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE {_q9sql("list_cosine_similarity(ea.v, eb.v)")} >= {SEM_TAU}
),
dropped AS (SELECT vb AS vec_id, MIN(va) AS rep FROM pairs GROUP BY vb)
SELECT ec.vec_id, d.vec_id IS NULL AS kept, d.rep
FROM ecell ec LEFT JOIN dropped d ON d.vec_id = ec.vec_id
ORDER BY ec.vec_id"""
    )


@register(
    "dedup_semantic",
    oracle=_semantic_dedup_oracle,
    # bench=False like the rest of the trained-quantizer family: the
    # duckdb oracle replays 5 unrolled Lloyd iterations in SQL (~67 s at
    # sf0.1 vs ~5 s Spark) — a correctness gate, not a perf baseline;
    # including it would both distort the aggregate ratio and add ~6 min
    # of oracle wall per bench pass
    bench=False,
    tags=("dedup", "similarity"),
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, the "
    "FAISS-kmeans pipeline): cluster embeddings with the SAME "
    "deterministic 1e-9-quantized Lloyd quantizer the IVF family trains "
    "(train_centroids/assign_cells), then find near-duplicates ONLY "
    "within each cell — a vector is dropped when a lower-id same-cell "
    "member sits at cosine >= tau, keeping the min-id representative "
    "per duplicate group. Output is the per-vector keep/drop decision "
    "plus representative, i.e. the curation verdict a pipeline applies, "
    "not just candidate pairs (sim_cosine_neardup). Cross-cell near-dups "
    "are deliberately unseen — the paper's accepted recall trade for "
    "turning an O(n^2) scan into sum-of-cell^2; at 100 TB the cell count "
    "scales with the corpus (SemDeDup runs ~10k-100k clusters) so cells "
    "stay bounded and each is one partition's local quadratic. The "
    "duckdb oracle replays k-means training, cell assignment, and the "
    "quantized within-cell cosine filter end to end in SQL.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"))
    centroids = train_centroids(emb)
    cells = assign_cells(emb, centroids)
    e = emb.select("vec_id", as_double("embedding").alias("v"))
    m = cells.join(e, "vec_id")
    a = m.select(
        F.col("cell"), F.col("vec_id").alias("va"), F.col("v").alias("xa")
    )
    b = m.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("vb"),
        F.col("v").alias("xb"),
    )
    pairs = a.join(
        b, (a["cell"] == b["cell_b"]) & (a["va"] < b["vb"])
    ).filter(_q9col(cosine("xa", "xb")) >= SEM_TAU)
    dropped = pairs.groupBy("vb").agg(F.min("va").alias("rep"))
    out = (
        cells.join(dropped, cells["vec_id"] == dropped["vb"], "left")
        .select(
            "vec_id",
            F.col("vb").isNull().alias("kept"),
            "rep",
        )
    )
    return bounded_sort(out, "vec_id", barrier=True)


@register(
    "sim_ann_store_freshness",
    oracle="SELECT 'lsh_postings' AS store, CAST(0 AS BIGINT) AS drift_rows",
    bench=False,  # ops audit; the oracle asserts an invariant, not
    # equivalent work (idx_store_freshness precedent)
    tags=("similarity", "serve", "ops"),
    doc="Anti-entropy check for the ANN serving tier — the same audit "
    "idx_store_freshness runs for the text index, applied to the LSH "
    "band-postings store: re-derive signatures from the raw embeddings "
    "and re-invert them into (tbl, bucket, members), then count rows "
    "differing from the materialized store in either direction "
    "(symmetric difference via two anti-joins on the full row including "
    "the member array). Drift must be exactly zero — any staleness, "
    "partial write, or build/serve divergence (e.g. an upsert path that "
    "drifts from the batch inverter) turns into a hash mismatch. At "
    "100 TB the same plan runs per (tbl, bucket-range) partition.",
)
def sim_ann_store_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    fresh = (
        lsh_signatures(
            spread(table(spark, sf_dir, "embeddings"), heavy=True), 64
        )
        .groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("members"))
    )
    stored = _POST_STORE.df(spark, sf_dir)
    keys = ["tbl", "bucket", "members"]
    drift = fresh.join(stored, keys, "left_anti").unionByName(
        stored.join(fresh, keys, "left_anti")
    )
    return drift.agg(F.count(F.lit(1)).alias("drift_rows")).select(
        F.lit("lsh_postings").alias("store"), "drift_rows"
    )


# --- multi-probe SemDeDup (round 9) -------------------------------------------

SEM_NPROBE = 2  # home cell + 2nd-nearest: the standard boundary repair


def assign_cells_topk(
    emb: DataFrame, centroids: "list[list[float]]", k: int
) -> DataFrame:
    """(vec_id, cell, rk): each vector's k nearest centroids by quantized
    distance, rk = 1..k, ties to the smaller cell id (stable argsort) —
    the multi-cell generalization of assign_cells, matching the oracle's
    ROW_NUMBER() ... ORDER BY d, cell with r <= k."""

    def batches(it):
        import numpy as np
        import pandas as pd

        C = np.asarray(centroids)
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "cell": [], "rk": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype("float64")
            d = _q9np(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
            top = np.argsort(d, axis=1, kind="stable")[:, :k]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                    "cell": top.ravel(),
                    "rk": np.tile(np.arange(1, k + 1), n),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        batches, "vec_id BIGINT, cell INT, rk INT"
    )


def _semantic_multiprobe_oracle() -> str:
    cf = f"c{IVF_KMEANS_ITERS}"
    return (
        "WITH "
        + _coarse_ctes()
        + f""",
ecell2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_q9sql(_D2_CORPUS)}, c.cell) AS r
    FROM e CROSS JOIN {cf} c) t WHERE r <= {SEM_NPROBE}),
pairs AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM ecell2 a JOIN ecell2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
near AS (
  SELECT p.va, p.vb FROM pairs p
  JOIN e ea ON ea.vec_id = p.va
  JOIN e eb ON eb.vec_id = p.vb
  WHERE {_q9sql("list_cosine_similarity(ea.v, eb.v)")} >= {SEM_TAU}
),
dropped AS (SELECT vb AS vec_id, MIN(va) AS rep FROM near GROUP BY vb)
SELECT ec.vec_id, d.vec_id IS NULL AS kept, d.rep
FROM ecell ec LEFT JOIN dropped d ON d.vec_id = ec.vec_id
ORDER BY ec.vec_id"""
    )


@register(
    "dedup_semantic_multiprobe",
    oracle=_semantic_multiprobe_oracle,
    bench=False,  # trained-quantizer family: the oracle replays Lloyd in SQL
    tags=("dedup", "similarity"),
    doc="SemDeDup with multi-probe boundary repair (VERDICT r8 #7): the "
    "single-cell variant's accepted miss class is near-dup pairs that "
    "straddle a cell boundary, so each vector here probes its TWO "
    "nearest centroids (home + 2nd-nearest, the standard FAISS nprobe "
    "mitigation) and candidate pairs are any two vectors sharing ANY "
    "probed cell — a strict superset of dedup_semantic's candidates, so "
    "recall against the exact quadratic pairs can only improve "
    "(contracted in tests/test_semdedup_recall.py). Cost rises from "
    "sum-of-cell^2 to ~4x that bound (each vector appears in 2 cells) — "
    "still linear in cells, never all-pairs, and the keep/drop verdict "
    "stays min-id-representative on the union of found pairs. The "
    "duckdb oracle replays training, 2-nearest assignment, the "
    "DISTINCT pair union, and the quantized cosine filter end to end.",
)
def dedup_semantic_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"))
    centroids = train_centroids(emb)
    cells = assign_cells(emb, centroids)  # home cells: the output spine
    cells2 = assign_cells_topk(emb, centroids, SEM_NPROBE)
    e = emb.select("vec_id", as_double("embedding").alias("v"))
    a = cells2.select("cell", F.col("vec_id").alias("va"))
    b = cells2.select(
        F.col("cell").alias("cell_b"), F.col("vec_id").alias("vb")
    )
    # DISTINCT before the vector join: a pair sharing both probed cells
    # must score once, and deduping on bare ids is cheaper than carrying
    # two 64-dim vectors through the exchange
    pairs = (
        a.join(b, (a["cell"] == b["cell_b"]) & (a["va"] < b["vb"]))
        .select("va", "vb")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("va"), F.col("v").alias("xa"))
    eb = e.select(F.col("vec_id").alias("vb"), F.col("v").alias("xb"))
    near = (
        pairs.join(ea, "va")
        .join(eb, "vb")
        .filter(_q9col(cosine("xa", "xb")) >= SEM_TAU)
    )
    dropped = near.groupBy("vb").agg(F.min("va").alias("rep"))
    out = cells.join(dropped, cells["vec_id"] == dropped["vb"], "left").select(
        "vec_id",
        F.col("vb").isNull().alias("kept"),
        "rep",
    )
    return bounded_sort(out, "vec_id", barrier=True)
