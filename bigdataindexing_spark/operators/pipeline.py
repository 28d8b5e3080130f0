"""Training-data pipeline operators over `documents` / `embeddings`
(SURVEY.md §2.9 X-family extensions).

The curation steps a large-scale LLM data pipeline runs after dedup
(operators/dedup.py) and before tokenization: deterministic dataset
splits, stratified sampling, C4-style quality filtering, length
bucketing, and per-class embedding centroids. Everything is built-in
column expressions (whole-stage codegen, no UDFs) and every operator is
a single groupBy/window — one shuffle each, no driver-side actions, so
each scales linearly with the corpus.

The reference has no analogue (it is a CRUD/index service); these are
the BASELINE-mandated extensions that make the engine a usable corpus
tool at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore, write_store

from bigdataindexing_spark.functions.text import tokens
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.tables import (
    bounded_sort,
    half_up_col,
    spread,
    table,
)


@register(
    "q59_hash_split",
    oracle="SELECT split, lang, COUNT(*) AS cnt FROM ("
    "SELECT CASE WHEN b <= 12 THEN 'train' WHEN b <= 14 THEN 'val' "
    "ELSE 'test' END AS split, lang FROM ("
    "SELECT strpos('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) AS b, lang "
    "FROM documents)) GROUP BY split, lang ORDER BY split, lang",
    tags=("pipeline", "sampling"),
    doc="Deterministic train/val/test split (75/12.5/12.5) by a stable "
    "content-independent hash of the document id: the last md5 nibble "
    "buckets 1-16 -> train<=12, val<=14, test otherwise. Hash-based "
    "splits are reproducible across runs and engines (no RNG state), "
    "embarrassingly parallel (a pure row-local expression, zero "
    "shuffles before the counting agg), and stable under corpus "
    "growth — a doc never migrates between splits when new docs arrive.",
)
def q59_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1),
    )
    split = (
        F.when(bucket <= 12, "train").when(bucket <= 14, "val").otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: bounded_sort(d, "split", "lang"))
    )


@register(
    "q60_stratified_sample",
    oracle="SELECT doc_id, lang FROM ("
    "SELECT doc_id, lang, ROW_NUMBER() OVER "
    "(PARTITION BY lang ORDER BY doc_id) AS rn FROM documents) "
    "WHERE rn % 10 = 1 ORDER BY doc_id",
    tags=("pipeline", "sampling"),
    doc="Deterministic stratified 1-in-10 systematic sample per language "
    "stratum (every 10th doc by id within each lang). Unlike "
    "df.sampleBy, this is exactly reproducible across engines and "
    "partitionings; the window partitions by stratum so the only "
    "shuffle is on the low-cardinality lang key. For skewed strata at "
    "100 TB the same shape runs per-(lang, shard-of-doc_id) and "
    "rescales n.",
)
def q60_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q61_quality_filter",
    oracle="SELECT lang, COUNT(*) AS kept FROM ("
    "SELECT lang, len(t) AS n, "
    "len(list_distinct(t)) * 1.0 / len(t) AS ttr, "
    "len(list_filter(t, w -> w IN ('a', 'the'))) * 1.0 / len(t) AS stop_ratio "
    "FROM (SELECT lang, string_split(lower(text), ' ') AS t FROM documents)) "
    "WHERE n >= 30 AND ttr >= 0.5 AND stop_ratio <= 0.08 "
    "GROUP BY lang ORDER BY lang",
    tags=("pipeline", "text"),
    doc="C4-style composite quality gate: minimum length, type-token "
    "ratio floor (repetition filter), and filler-word ceiling, composed "
    "as one row-local predicate — the whole filter runs inside the scan "
    "stage with zero pre-agg shuffles. Survivor counts per language "
    "feed the sampling-ratio decisions (q59/q60).",
)
def q61_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("t")
    n = F.size(t)
    ttr = F.size(F.array_distinct(t)) * 1.0 / n
    stop_ratio = (
        F.size(F.filter(t, lambda w: w.isin("a", "the"))) * 1.0 / n
    )
    return (
        spread(table(spark, sf_dir, "documents"))
        .select("lang", tokens("text").alias("t"))
        .filter((n >= 30) & (ttr >= 0.5) & (stop_ratio <= 0.08))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
        .transform(lambda d: bounded_sort(d, "lang"))
    )


@register(
    "q62_token_histogram",
    oracle="SELECT (len(string_split(lower(text), ' ')) // 10) * 10 AS bucket, "
    "COUNT(*) AS cnt FROM documents GROUP BY bucket ORDER BY bucket",
    tags=("pipeline", "text"),
    doc="Token-count histogram in width-10 buckets — the length "
    "distribution a pipeline inspects before choosing packing/truncation "
    "lengths. Integer bucketing keeps the agg key dense and the whole "
    "histogram is one map-side-combinable groupBy.",
)
def q62_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (F.size(tokens("text")) / 10).cast("long") * 10
    return (
        table(spark, sf_dir, "documents")
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: bounded_sort(d, "bucket"))
    )


PACK_BUDGET = 2048


@register(
    "q67_sequence_pack",
    oracle="SELECT lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS pack_id, "
    # CAST: duckdb integer SUM yields HUGEINT (decimal128 over Arrow),
    # which the driver's canonicalizer renders differently from BIGINT.
    "COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS pack_tokens FROM ("
    "SELECT lang, n, SUM(n) OVER (PARTITION BY lang ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM ("
    "SELECT lang, doc_id, len(string_split(lower(text), ' ')) AS n "
    "FROM documents)) GROUP BY lang, pack_id ORDER BY lang, pack_id",
    tags=("pipeline", "packing"),
    doc="Greedy sequence packing: stream documents (per language, in "
    "doc_id order) into consecutive 2048-token context windows; a doc "
    "belongs to the window its first token falls in (offset packing). "
    "The whole assignment is one running sum over a window partitioned "
    "by the stratum key — no per-bin state, no driver loop — then a "
    "grouped count/sum reports per-pack fill. At 100 TB the same plan "
    "packs per (lang, date-shard) so each window partition stays "
    "bounded; first-fit-decreasing packing (tighter fill, needs mutable "
    "bin state) would be the applyInPandas escape hatch.",
)
def q67_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(tokens("text")).alias("n")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pack_id = F.floor((F.sum("n").over(w) - F.col("n")) / F.lit(PACK_BUDGET))
    return (
        d.select("lang", pack_id.alias("pack_id"), "n")
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n").alias("pack_tokens"),
        )
        .orderBy("lang", "pack_id")
    )


PACK_SHARDS = 8


@register(
    "q98_sequence_pack_sharded",
    oracle="SELECT lang, shard, "
    "CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS pack_id, "
    "COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS pack_tokens FROM ("
    f"SELECT lang, doc_id % {PACK_SHARDS} AS shard, n, "
    "SUM(n) OVER (PARTITION BY lang, doc_id % "
    f"{PACK_SHARDS} ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM ("
    "SELECT lang, doc_id, len(string_split(lower(text), ' ')) AS n "
    "FROM documents)) GROUP BY lang, shard, pack_id "
    "ORDER BY lang, shard, pack_id",
    tags=("pipeline", "packing"),
    doc="Sequence packing with SHARDED window partitions — the 100 TB "
    "form of q67. The running sum partitions by (lang, doc_id-shard), so "
    "the assignment stage runs n_lang x n_shards tasks instead of one "
    "task per language (q67's scale limit: ~5 languages = ~5 tasks no "
    "matter the corpus size). Packs are local to their shard — exactly "
    "how a production packer runs one packing stream per (stratum, "
    "date-shard) — and pack identity is (lang, shard, pack_id). In "
    "production the shard key is a date/file partition; a modulus is "
    "used here so the duckdb oracle can reproduce it exactly.",
)
def q98_sequence_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens("text")).alias("n"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pack_id = F.floor((F.sum("n").over(w) - F.col("n")) / F.lit(PACK_BUDGET))
    return (
        d.select("lang", "shard", pack_id.alias("pack_id"), "n")
        .groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


@register(
    "q68_embedding_quantize",
    oracle="SELECT vec_id, "
    "list_sum(list_transform(embedding, x -> abs(x - round(x * s) / s))) "
    "/ len(embedding) AS mae FROM ("
    "SELECT vec_id, embedding, "
    "127.0 / list_max(list_transform(embedding, x -> abs(x))) AS s "
    "FROM embeddings WHERE vec_id <= 200) ORDER BY vec_id",
    tags=("pipeline", "similarity", "quantization"),
    doc="Symmetric int8 scalar quantization of embeddings (scale = "
    "127/max|v| per vector, the standard pre-ANN compression) with "
    "per-vector mean-absolute reconstruction error. All math is "
    "higher-order array functions on the JVM — one scan, zero shuffles "
    "before the final sort — exactly how a 100 TB corpus would be "
    "re-encoded to a quarter the footprint before index build.",
)
def q68_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") <= 200
    )
    s = F.expr("127.0D / array_max(transform(embedding, x -> abs(x)))")
    e = e.select("vec_id", "embedding", s.alias("s"))
    err = F.expr(
        "aggregate(embedding, 0.0D, "
        "(acc, x) -> acc + abs(x - round(x * s) / s))"
    )
    return e.select(
        "vec_id", (err / F.size("embedding")).alias("mae")
    ).transform(lambda d: bounded_sort(d, "vec_id", barrier=True))


DECON_N = 5  # shingle width; production pipelines use 13-gram decontamination

_DECON_SQL = f"""
WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
              FROM documents),
sh AS (SELECT doc_id, lang,
              UNNEST(list_transform(generate_series(1, len(t) - {DECON_N - 1}),
                     i -> list_aggregate(t[i:i+{DECON_N - 1}], 'string_agg', ' '))) AS s
       FROM toks WHERE len(t) >= {DECON_N}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
cont AS (SELECT DISTINCT doc_id, lang FROM sh
         WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench))
SELECT lang, COUNT(*) AS contaminated FROM cont GROUP BY lang ORDER BY lang
"""


@register(
    "q81_decontaminate",
    oracle=_DECON_SQL,
    tags=("pipeline", "dedup", "text"),
    doc="Benchmark decontamination: flag training documents sharing any "
    f"{DECON_N}-gram shingle with the held-out eval set (doc_id % 97 — a "
    "stand-in for a real benchmark corpus). Both sides shingle inside the "
    "scan stage (the eval-side filter pushes to parquet, so the eval "
    "branch only shingles 1/97th of the corpus); contamination is a "
    "broadcast LEFT SEMI join on the shingle string — no quadratic stage, "
    "one shuffle for the final distinct. At 100 TB the eval shingle set "
    "(benchmarks are tiny versus training corpora) still broadcasts; if "
    "it ever didn't, dropping the broadcast hint falls back to a shuffled "
    "semi-join on the shingle key, same semantics.",
)
def q81_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    out = spark.sql(f"""
        WITH d AS (
          SELECT doc_id, lang,
                 explode(array_distinct(transform(
                   sequence(1, size(t) - {DECON_N - 1}),
                   i -> array_join(slice(t, i, {DECON_N}), ' ')
                 ))) AS s
          FROM (SELECT doc_id, lang, split(lower(text), ' ') AS t
                FROM {docs})
          WHERE size(t) >= {DECON_N}
        ),
        ev AS (SELECT DISTINCT s FROM d WHERE doc_id % 97 = 0)
        SELECT lang, COUNT(1) AS contaminated FROM (
          SELECT /*+ BROADCAST(ev) */ DISTINCT doc_id, lang
          FROM d LEFT SEMI JOIN ev USING (s)
          WHERE doc_id % 97 != 0
        )
        GROUP BY lang
    """)
    return bounded_sort(out, "lang")


SOURCE_CAP = 10


@register(
    "q82_source_cap",
    oracle="SELECT source, doc_id FROM ("
    "SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) "
    f"WHERE rn <= {SOURCE_CAP} ORDER BY source, doc_id",
    tags=("pipeline", "sampling"),
    doc=f"Per-source document cap (keep {SOURCE_CAP} per source): rank "
    "within each source by a content-independent hash of the id and keep "
    "the top-K — the standard defense against one crawl dominating the "
    "mixture, reproducible across engines because the order key is md5, "
    "not RNG state. One shuffle on the source key. At 100 TB an exact "
    "rank over a giant source is skew-prone; the scale shape is two-level "
    "top-K (per-partition rank prefilter to K, then the same window over "
    "the ≤ K·partitions survivors) — same result, bounded partitions.",
)
def q82_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        table(spark, sf_dir, "documents")
        .select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("source", "doc_id")
        .transform(
            lambda d: bounded_sort(d, "source", "doc_id", barrier=True)
        )
    )


@register(
    "q83_lang_rebalance",
    oracle="WITH ranked AS (SELECT lang, ROW_NUMBER() OVER ("
    "PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
    "FROM documents), "
    "tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT lang) AS k FROM documents) "
    "SELECT lang, COUNT(*) AS kept FROM ranked, tot "
    "WHERE rn <= CEIL(n * 1.0 / k) GROUP BY lang ORDER BY lang",
    tags=("pipeline", "sampling"),
    doc="Rebalance the language mixture toward uniform: each language "
    "keeps at most ceil(total/num_langs) documents, chosen by the same "
    "deterministic md5 rank as q82. The cap comes from a 1-row global "
    "aggregate broadcast-cross-joined into the ranked stream — no "
    "driver-side action, the whole plan is one DAG (count + window + "
    "filter). This is the degenerate (uniform-target) case of mixture "
    "reweighting; arbitrary target shares are the same plan with a "
    "per-lang weights literal joined in place of n/k.",
)
def q83_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("lang").alias("k"),
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("rn") <= F.ceil(F.col("n") / F.col("k")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
        .transform(lambda d: bounded_sort(d, "lang"))
    )


TOKEN_BUDGET = 10_000


@register(
    "q90_budget_select",
    oracle="WITH scored AS (SELECT lang, doc_id, "
    "len(string_split(lower(text),' ')) AS n, "
    "len(list_distinct(string_split(lower(text),' '))) * 1.0 "
    "/ len(string_split(lower(text),' ')) AS score FROM documents), "
    "sel AS (SELECT lang, n, SUM(n) OVER (PARTITION BY lang "
    "ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM scored) "
    # CAST: duckdb integer SUM -> HUGEINT; see q67.
    "SELECT lang, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens FROM sel "
    f"WHERE cum <= {TOKEN_BUDGET} GROUP BY lang ORDER BY lang",
    tags=("pipeline", "sampling"),
    doc="Training-set selection under a per-language token budget: rank "
    "documents by quality (type-token ratio) and keep the best until the "
    "running token count hits the budget — greedy knapsack, the standard "
    "'best N tokens' curation step. The cumulative sum is a window "
    "PARTITIONED by lang (deliberately not a global ORDER BY — a global "
    "cumsum funnels the corpus through one task; per-stratum budgets "
    "keep every partition bounded at 100 TB). Score ties break on "
    "doc_id so the greedy frontier is engine-deterministic.",
)
def q90_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens("text")
    n = F.size(t)
    score = F.size(F.array_distinct(t)) * 1.0 / n
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "documents")
        .select("lang", "doc_id", n.alias("n"), score.alias("score"))
        .withColumn("cum", F.sum("n").over(w))
        .filter(F.col("cum") <= TOKEN_BUDGET)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n").alias("tokens"))
        .transform(lambda d: bounded_sort(d, "lang"))
    )


BUDGET_SHARDS = 8


@register(
    "q99_budget_select_sharded",
    oracle="WITH scored AS (SELECT lang, doc_id, "
    f"doc_id % {BUDGET_SHARDS} AS shard, "
    "len(string_split(lower(text),' ')) AS n, "
    "len(list_distinct(string_split(lower(text),' '))) * 1.0 "
    "/ len(string_split(lower(text),' ')) AS score FROM documents), "
    "sel AS (SELECT lang, n, SUM(n) OVER (PARTITION BY lang, shard "
    "ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum "
    "FROM scored) "
    "SELECT lang, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens "
    f"FROM sel WHERE cum <= {TOKEN_BUDGET // BUDGET_SHARDS} "
    "GROUP BY lang ORDER BY lang",
    tags=("pipeline", "sampling"),
    doc="Token-budget selection with SHARDED greedy frontiers — the "
    "100 TB form of q90. Each (lang, doc_id-shard) stream greedily "
    "fills budget/n_shards tokens by quality rank, so the running-sum "
    "stage runs n_lang x n_shards bounded tasks instead of one task "
    "per language. The union of per-shard selections approximates the "
    "global greedy set (equal when quality is shard-homogeneous, which "
    "a hash shard guarantees in expectation) — the standard trade of "
    "exact global ranking for bounded parallelism. Oracle mirrors the "
    "sharded semantics exactly.",
)
def q99_budget_select_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens("text")
    n = F.size(t)
    score = F.size(F.array_distinct(t)) * 1.0 / n
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            "doc_id",
            (F.col("doc_id") % BUDGET_SHARDS).alias("shard"),
            n.alias("n"),
            score.alias("score"),
        )
        .withColumn("cum", F.sum("n").over(w))
        .filter(F.col("cum") <= TOKEN_BUDGET // BUDGET_SHARDS)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n").alias("tokens"))
        .transform(lambda d: bounded_sort(d, "lang"))
    )


OUTLIER_COS = -0.1


@register(
    "q91_centroid_outliers",
    oracle="WITH c AS (SELECT label, pos, AVG(v) AS cv FROM ("
    "SELECT label, UNNEST(embedding) AS v, "
    "generate_subscripts(embedding, 1) AS pos FROM embeddings) "
    "GROUP BY label, pos), "
    "dot AS (SELECT e.vec_id, e.label, "
    "SUM(e.embedding[c.pos] * c.cv) AS d, sqrt(SUM(c.cv * c.cv)) AS cn "
    "FROM embeddings e JOIN c ON e.label = c.label "
    "GROUP BY e.vec_id, e.label) "
    f"SELECT vec_id, label, ROUND(d / cn, 4) AS cos_sim FROM dot "
    f"WHERE d / cn < {OUTLIER_COS} ORDER BY vec_id",
    tags=("pipeline", "similarity"),
    doc="Embedding outlier detection: vectors anti-aligned with their "
    "own label centroid (cosine < -0.1) — the mislabeled/noise candidates "
    "a curation pass reviews before training. Centroids come from the "
    "q63 posexplode-average (partial-aggregable, one shuffle), collapse "
    "to per-label arrays, and BROADCAST to the fact side where the "
    "cosine is a zip_with dot product inside the scan stage — the "
    "embedding table is never re-shuffled. Unit norms are NOT assumed "
    "for the centroid (means of unit vectors aren't unit); vector norms "
    "are 1 by construction in this corpus so only the centroid norm "
    "divides. The duckdb oracle computes the same dot via a 64x exploded "
    "join — semantically identical, shaped for a columnar engine.",
)
def q91_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    # one SQL statement, one driver round-trip (see tables.table_view);
    # the centroid CTE broadcasts to the fact side where the cosine is a
    # row-local zip_with dot product inside the scan stage
    emb = table_view(spark, sf_dir, "embeddings")
    return spark.sql(f"""
        WITH centroids AS (
          SELECT label,
                 transform(array_sort(collect_list(struct(pos, cv))),
                           p -> p.cv) AS cvec
          FROM (SELECT label, pos, avg(v) AS cv
                FROM (SELECT label, posexplode(embedding) AS (pos, v)
                      FROM {emb})
                GROUP BY label, pos)
          GROUP BY label
        )
        SELECT /*+ BROADCAST(centroids) */ vec_id, label,
               ROUND(aggregate(zip_with(embedding, cvec, (x, y) -> x * y),
                               0.0D, (acc, x) -> acc + x)
                     / sqrt(aggregate(cvec, 0.0D, (acc, x) -> acc + x * x)),
                     4) AS cos_sim
        FROM {emb} JOIN centroids USING (label)
        WHERE aggregate(zip_with(embedding, cvec, (x, y) -> x * y),
                        0.0D, (acc, x) -> acc + x)
              / sqrt(aggregate(cvec, 0.0D, (acc, x) -> acc + x * x))
              < {OUTLIER_COS}
        ORDER BY vec_id
    """)


@register(
    "q63_embedding_centroid",
    oracle="SELECT label, pos, FLOOR(AVG(v) * 1e3 + 0.5) / 1e3 AS centroid FROM ("
    "SELECT label, UNNEST(embedding) AS v, "
    "generate_subscripts(embedding, 1) AS pos FROM embeddings) "
    "GROUP BY label, pos ORDER BY label, pos",
    tags=("pipeline", "similarity"),
    doc="Per-label embedding centroid, element-wise: posexplode to "
    "(label, dim, value) then one grouped average — the standard "
    "k-means-update / class-prototype step. Exploding trades 64x row "
    "inflation for a fully partial-aggregable plan (map-side combine "
    "collapses each partition to labels x dims rows before the single "
    "shuffle), which beats per-group array accumulation at scale. "
    "1-based dim index matches duckdb generate_subscripts.",
)
def q63_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(table(spark, sf_dir, "embeddings"))
        .select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "v")
        .groupBy("label", "pos")
        # 3-decimal half-up: a centroid sat 9.4e-5 from a 1e-4 half
        # boundary at sf0.1 (r08 audit) — summation-order wobble territory
        .agg(half_up_col(F.avg("v"), 3).alias("centroid"))
        .transform(lambda d: bounded_sort(d, "label", "pos"))
    )


_PROFILE_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


@register(
    "q95_profile_columns",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col, COUNT(*) - COUNT({c}) AS nulls, "
        f"COUNT(DISTINCT {c}) AS ndv, ROUND(MIN({c}), 4) AS min_v, "
        f"ROUND(MAX({c}), 4) AS max_v FROM lineitem"
        for c in _PROFILE_COLS
    )
    + " ORDER BY col",
    tags=("pipeline", "profiling"),
    doc="Dataset profiling (ANALYZE-style column statistics): null count, "
    "exact distinct count, and min/max for every numeric fact column in "
    "ONE scan. The four columns unpivot to long form (col_idx, value) "
    "row-locally (posexplode — no shuffle), dedupe on (col_idx, value) "
    "with a plain grouped count (map-side partial aggregation collapses "
    "repeated values before the exchange; near-distinct columns like "
    "l_extendedprice ship ~raw volume either way, duplicate-heavy ones "
    "like l_discount collapse ~25000:1), then fold the distinct rows "
    "into the per-column stats. Measured at sf0.1 against an explicit "
    "pre-dedupe repartition (2.7x slower — it ships every raw row), "
    "per-column count_distinct branches, and the Expand-based "
    "multi-distinct (both ~2x slower). At 100 TB the same shape holds: "
    "one scan, one value-keyed exchange (the unavoidable cost of EXACT "
    "ndv), one tiny per-column fold; swap in HLL (q32-style) when "
    "approximate ndv is acceptable. The duckdb oracle is the equivalent "
    "UNION ALL of per-column aggregates.",
)
def q95_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    li = table_view(spark, sf_dir, "lineitem")
    arr = ", ".join(f"CAST({c} AS DOUBLE)" for c in _PROFILE_COLS)
    names = ", ".join(f"'{c}'" for c in _PROFILE_COLS)
    stats = spark.sql(f"""
        WITH kv AS (
          SELECT posexplode(array({arr})) AS (i, v) FROM {li}
        ),
        dist AS (SELECT i, v, COUNT(1) AS n FROM kv GROUP BY i, v)
        SELECT array({names})[i] AS col,
               SUM(CASE WHEN v IS NULL THEN n ELSE 0 END) AS nulls,
               COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS ndv,
               ROUND(MIN(v), 4) AS min_v,
               ROUND(MAX(v), 4) AS max_v
        FROM dist GROUP BY i
    """)
    return bounded_sort(stats, "col")


CHUNK_TOKENS = 64
CHUNK_STRIDE = 32


@register(
    "q97_chunk_windows",
    oracle="WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t "
    "FROM documents WHERE doc_id <= 100), "
    "c AS (SELECT doc_id, UNNEST(generate_series(0, "
    f"CAST(CEIL(GREATEST(len(t) - {CHUNK_STRIDE}, 1) / {CHUNK_STRIDE}.0) "
    "AS BIGINT) - 1)) AS chunk_idx, t FROM toks) "
    "SELECT doc_id, chunk_idx, "
    f"LEAST({CHUNK_TOKENS}, len(t) - chunk_idx * {CHUNK_STRIDE}) AS n_tokens, "
    f"md5(list_aggregate(t[chunk_idx * {CHUNK_STRIDE} + 1 : "
    f"chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], 'string_agg', ' ')) "
    "AS chunk_md5 FROM c ORDER BY doc_id, chunk_idx",
    tags=("pipeline", "text", "chunking"),
    doc="RAG-style document chunking: overlapping 64-token windows with "
    "32-token stride, each chunk carrying provenance (doc_id, chunk_idx) "
    "and a content fingerprint (md5 of the joined window — proves the "
    "CONTENT matches across engines, not just the counts). The window "
    "enumeration is a row-local transform(sequence)+posexplode — zero "
    "shuffles before the final sort, embarrassingly parallel at 100 TB; "
    "the downstream embed step consumes exactly this (doc_id, chunk_idx, "
    "text-window) contract.",
)
def q97_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens("text")
    n_chunks = F.ceil(
        F.greatest(F.size(t) - CHUNK_STRIDE, F.lit(1)) / float(CHUNK_STRIDE)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size(t) - i * CHUNK_STRIDE
            ).alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
                )
            ).alias("chunk_md5"),
        ),
    )
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 100)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_md5")
        .orderBy("doc_id", "chunk_idx")
    )


WEIGHTED_SAMPLE_K = 50
# 16^15 = 2^60: the md5-derived 60-bit hash maps to u in (0, 1)
_U_DENOM = float(1 << 60)


@register(
    "q101_weighted_sample",
    oracle="SELECT doc_id, lang, ROUND(POW("
    f"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) "
    f"/ {_U_DENOM}, 1.0 / LN(1 + n_chars)), 6) AS priority "
    "FROM documents "
    "ORDER BY priority DESC, doc_id "
    f"LIMIT {WEIGHTED_SAMPLE_K}",
    tags=("pipeline", "sampling"),
    doc="Deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): each document draws u from a reproducible hash of "
    "its id (first 15 md5 hex chars -> u in (0,1)), gets priority "
    "u^(1/w) with weight w = ln(1 + n_chars), and the top-K priorities "
    "are the sample — longer documents are proportionally more likely "
    "to survive, yet the draw is a pure function of the row, so any "
    "engine, any partitioning, any run selects the SAME sample (the "
    "property a reproducible training-data pipeline needs, and what "
    "rand()-based sampling cannot give). Plan: row-local priority "
    "expression + TakeOrderedAndProject — one scan, no shuffle beyond "
    "the top-K combine, embarrassingly parallel at 100 TB.",
)
def q101_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("double") / F.lit(_U_DENOM)
    w = F.log(F.lit(1) + F.col("n_chars"))
    priority = F.round(F.pow(u, F.lit(1.0) / w), 6)
    return (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", priority.alias("priority"))
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


@register(
    "q109_length_quartiles",
    oracle="WITH q AS (SELECT lang, n_chars, NTILE(4) OVER ("
    "PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile "
    "FROM documents) "
    "SELECT lang, quartile, COUNT(*) AS n_docs, "
    "((2 * SUM(n_chars) * 10000 + COUNT(*)) // (2 * COUNT(*))) / 1e4 AS avg_chars, "
    "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars "
    "FROM q GROUP BY lang, quartile ORDER BY lang, quartile",
    tags=("pipeline", "sampling"),
    doc="Per-language document-length quartile bands: NTILE(4) over a "
    "total (n_chars, doc_id) order within each language, summarized per "
    "band — the stratification step behind length-balanced batch "
    "mixing, curriculum schedules, and per-stratum quota sampling. The "
    "ntile partitions by lang (never global — q47's global-ntile "
    "anti-pattern is documented on q54), the tie-break makes band "
    "assignment engine-independent, and the band summary is a "
    "constant-size output at any corpus scale.",
)
def q109_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    q = (
        spread(table(spark, sf_dir, "documents"))
        .select("lang", "n_chars", "doc_id")
        .withColumn("quartile", F.ntile(4).over(w))
    )
    return (
        q.groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("_s_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn(
            "avg_chars",
            F.expr("(2 * _s_chars * 10000 + n_docs) DIV (2 * n_docs) / 1e4"),
        )
        .select(
            "lang", "quartile", "n_docs", "avg_chars", "min_chars", "max_chars"
        )
        .transform(lambda d: bounded_sort(d, "lang", "quartile"))
    )


TRAIN_SHUFFLE_EPOCH = 7


@register(
    "q110_train_shard_shuffle",
    oracle="SELECT substr(md5(CAST(doc_id AS VARCHAR) || "
    f"':ep{TRAIN_SHUFFLE_EPOCH}'), 1, 1) AS shard, doc_id, "
    f"md5(CAST(doc_id AS VARCHAR) || ':ep{TRAIN_SHUFFLE_EPOCH}') AS h "
    "FROM documents ORDER BY h, doc_id",
    tags=("pipeline", "training"),
    doc="Deterministic epoch shuffle for training-data delivery: every "
    "document hashes to h = md5(doc_id:epoch), the first hex nibble is "
    "its output shard (16 shards), and the global ORDER BY h is the "
    "epoch's reading order — reshuffled by changing one epoch constant, "
    "reproducible across runs and engines, no RNG state to coordinate. "
    "The plan is one row-local projection plus one range exchange (the "
    "sort), which is exactly the distributed epoch shuffle at 100 TB: "
    "hash-ordering is uniform so range partitions balance by "
    "construction, shard boundaries align with sort prefixes (a shard "
    "is a contiguous run of the output), and downstream trainers read "
    "their shard by Parquet min/max pruning on h. The doc_id tiebreak "
    "is unreachable (md5 collisions) but makes the declared order "
    "total for the oracle hash.",
)
def q110_train_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(f":ep{TRAIN_SHUFFLE_EPOCH}"),
        )
    )
    return (
        docs.select(
            F.substring(h, 1, 1).alias("shard"),
            "doc_id",
            h.alias("h"),
        )
        .orderBy("h", "doc_id")
    )


# --- materialized sketch store -----------------------------------------
# Per-shard HLL sketches over events(user_id) keyed by event_type. Built
# once per session: at 100 TB each ingest shard summarizes its own users
# into a kilobyte-sized Datasketches HLL once, and every later cardinality
# question is a union of sketches — never a rescan of raw events. Sketch union is exact with
# respect to the sketch (register-wise max, order-independent), so the
# merged estimate EQUALS the single-pass estimate — the mergeability
# contract tests/test_pipeline_ops.py asserts bit-for-bit.
SKETCH_SHARDS = 8


def _build_hll_sketches(spark: SparkSession, sf_dir: str, path: str) -> None:
    write_store(
        table(spark, sf_dir, "events")
        .withColumn("shard", (F.col("event_id") % SKETCH_SHARDS).cast("int"))
        .groupBy("shard", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sketch")),
        path,
    )


_HLL_SKETCHES = SessionParquetStore("hll_sketch", _build_hll_sketches)


@register(
    "q113_hll_sketch_merge",
    oracle=None,  # Datasketches HLL is not reproducible in duckdb; the
    # mergeability and accuracy contracts live in tests/test_pipeline_ops.py
    tags=("agg", "approx", "sketch", "serve"),
    doc="Distinct users per event_type served from the MATERIALIZED HLL "
    "sketch store: each ingest shard aggregated its users into a "
    "Datasketches HLL once (store built per session, like the inverted "
    "index); this query unions the per-shard sketches and reads the "
    "estimate — cardinality over the whole corpus at sketch-union cost, "
    "no rescan. Union is register-wise max, so the merged estimate is "
    "IDENTICAL to a single-pass sketch of the same data (asserted "
    "bit-for-bit in tests) and within HLL error of the exact count "
    "(also asserted). This is how a 100 TB deployment answers rolling "
    "cardinality questions; the exact path (q10) and the inline approx "
    "path (q32) are its registered siblings.",
)
def q113_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _HLL_SKETCHES.df(spark, sf_dir)
    return (
        store.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "approx_users"
            )
        )
        .transform(lambda d: bounded_sort(d, "event_type"))
    )


_CURATION_SQL = f"""
WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
q AS (SELECT doc_id, lang, len(t) AS n,
             len(list_distinct(t)) * 1.0 / len(t) AS score
      FROM (SELECT doc_id, lang, string_split(lower(text),' ') AS t
            FROM documents WHERE doc_id IN (SELECT doc_id FROM surv))
      WHERE len(t) >= 30 AND len(list_distinct(t)) * 1.0 / len(t) >= 0.5
        AND len(list_filter(t, w -> w IN ('a','the'))) * 1.0 / len(t) <= 0.08),
sh AS (SELECT doc_id,
              UNNEST(list_transform(generate_series(1, len(t) - {DECON_N - 1}),
                     i -> list_aggregate(t[i:i+{DECON_N - 1}], 'string_agg', ' '))) AS s
       FROM (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents)
       WHERE len(t) >= {DECON_N}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
dirty AS (SELECT DISTINCT doc_id FROM sh WHERE s IN (SELECT s FROM bench)),
clean AS (SELECT * FROM q WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM dirty)),
sel AS (SELECT lang, n, SUM(n) OVER (PARTITION BY lang
        ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM clean)
SELECT lang, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens
FROM sel WHERE cum <= {TOKEN_BUDGET} GROUP BY lang ORDER BY lang
"""


@register(
    "q114_curation_pipeline",
    oracle=_CURATION_SQL,
    tags=("pipeline", "dedup", "text", "sampling", "composed"),
    doc="The full curation pipeline COMPOSED end to end in one DAG — "
    "exact dedup (md5 survivor per content hash) -> C4-style quality "
    "gate (length, type-token ratio, filler ceiling; q61's predicate) "
    "-> benchmark decontamination (shared 5-gram vs the held-out set; "
    "q81's semi-join) -> per-language greedy token-budget selection "
    "(q90's partitioned cumsum). Every stage is the registered "
    "operator's exact logic, so the composition is verified against the "
    "identical CTE chain in SQL; Catalyst fuses the stages (the quality "
    "predicate and scoring run row-local in the scan, the dedup "
    "survivor set and decontamination sets join on their natural keys, "
    "and the only ordered stage is the per-lang budget window). This is "
    "the query a training-data user actually runs nightly: corpus in, "
    "(lang, docs, tokens) budget report out, one plan.",
)
def q114_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import pin_view, table_view

    # tokenize ONCE into the pinned relation: the quality gate and the
    # decontamination shingler both consume the token array, and without
    # the precomputed column each branch re-runs the tokenizer over the
    # full text (measured 1.07->0.74s at sf0.1). The cache holds the
    # arrays instead of recomputing them — the standard space-for-CPU
    # trade of a staged pipeline; persist spills to disk at scale. The
    # whole staged dataflow is then ONE SQL statement over a view of the
    # pinned relation (one driver round-trip, see tables.table_view).
    docs_view = table_view(spark, sf_dir, "documents")
    view = pin_view(
        spark,
        sf_dir,
        "q114_docs",
        spark.sql(
            f"SELECT doc_id, lang, text, split(lower(text), ' ') AS t "
            f"FROM {docs_view}"
        ),
    )
    budget = TOKEN_BUDGET
    selected = spark.sql(f"""
        WITH surv AS (
          SELECT min(doc_id) AS doc_id FROM {view} GROUP BY md5(text)
        ),
        quality AS (
          SELECT doc_id, lang, size(t) AS n,
                 size(array_distinct(t)) * 1.0D / size(t) AS score,
                 size(filter(t, w -> w IN ('a', 'the'))) * 1.0D / size(t)
                   AS stop_ratio
          FROM {view}
        ),
        qf AS (
          SELECT doc_id, lang, n, score
          FROM quality LEFT SEMI JOIN surv USING (doc_id)
          WHERE n >= 30 AND score >= 0.5 AND stop_ratio <= 0.08
        ),
        sh AS (
          SELECT doc_id,
                 explode(array_distinct(transform(
                   sequence(1, size(t) - {DECON_N - 1}),
                   i -> array_join(slice(t, i, {DECON_N}), ' ')
                 ))) AS s
          FROM {view} WHERE size(t) >= {DECON_N}
        ),
        bench_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        dirty AS (
          SELECT /*+ BROADCAST(bench_sh) */ DISTINCT doc_id
          FROM sh LEFT SEMI JOIN bench_sh USING (s)
        ),
        clean AS (
          SELECT qf.doc_id, qf.lang, qf.n, qf.score
          FROM qf LEFT ANTI JOIN dirty ON qf.doc_id = dirty.doc_id
          WHERE qf.doc_id % 97 != 0
        ),
        sel AS (
          SELECT lang, n,
                 SUM(n) OVER (PARTITION BY lang
                              ORDER BY score DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
          FROM clean
        )
        SELECT lang, COUNT(1) AS docs, SUM(n) AS tokens
        FROM sel WHERE cum <= {budget} GROUP BY lang
    """)
    return bounded_sort(selected, "lang")


@register(
    "q115_pseudonymize_join",
    oracle="WITH c AS (SELECT c_custkey, "
    "'cust-' || substr(md5(c_name), 1, 12) AS pseud, c_mktsegment "
    "FROM customer), "
    "o AS (SELECT o_custkey, o_totalprice FROM orders) "
    "SELECT pseud, c_mktsegment, COUNT(*) AS orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue "
    "FROM c JOIN o ON c_custkey = o_custkey "
    "GROUP BY pseud, c_mktsegment ORDER BY pseud",
    tags=("pipeline", "privacy"),
    doc="Pseudonymization with referential integrity — the privacy "
    "transform a training-data export runs before identifiers may leave "
    "the trust boundary: the direct identifier (c_name) is replaced by "
    "a deterministic content-hash pseudonym, so the SAME entity maps to "
    "the SAME token everywhere and downstream joins/aggregations still "
    "work, while the original name never appears in the output (GDPR "
    "Art. 4(5) pseudonymisation; the standard fallback when real PII "
    "columns must survive as join keys). Row-local hashing inside the "
    "scan stage, dimension side broadcast into the orders join, one "
    "aggregate — masking adds zero shuffles to the unmasked plan. The "
    "oracle applies the identical md5 pseudonym in duckdb, proving the "
    "mapping is engine-independent (no salt here for oracle "
    "determinism; production adds a keyed salt from a secret store).",
)
def q115_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    cust = table_view(spark, sf_dir, "customer")
    orders = table_view(spark, sf_dir, "orders")
    out = spark.sql(f"""
        WITH c AS (
          SELECT c_custkey,
                 'cust-' || substr(md5(c_name), 1, 12) AS pseud,
                 c_mktsegment
          FROM {cust}
        )
        SELECT /*+ BROADCAST(c) */ pseud, c_mktsegment,
               COUNT(1) AS orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM c JOIN {orders} ON c_custkey = o_custkey
        GROUP BY pseud, c_mktsegment
    """)
    return bounded_sort(out, "pseud")


# --- temperature-based source mixing (round 8) --------------------------------
#
# The multilingual/multi-source pretraining mixer (mBERT/XLM-R/PaLM
# lineage): sampling share q_i ∝ n_i^(1/T) with T=2 (alpha=0.5), so
# high-resource languages are downweighted and low-resource ones
# oversampled relative to their natural share, under a global budget of
# half the corpus. alpha=0.5 is deliberate: sqrt is IEEE
# correctly-rounded in every engine (POWER is not guaranteed to be), and
# the denominator is closed STRUCTURALLY (ADVICE r8): each sqrt(n) term
# is half-up-quantized to the 1e-9 grid as a BIGINT *before* the sum, so
# z is an exact, order-independent integer sum — bit-identical across
# engines by construction, not merely because a 5-term double sum
# happens to round the same way. The per-lang share sq/zq is then one
# correctly-rounded IEEE divide of two integers both exactly
# representable as doubles (sq <= sqrt(n)*1e9 stays under 2^53 for any
# plausible corpus), so every downstream FLOOR sees identical inputs.
MIX_BUDGET_FRAC = 0.5  # global budget = FLOOR(corpus/2) docs

_TEMP_MIX_ORACLE = (
    "WITH src AS (SELECT lang, COUNT(*) AS n, "
    "CAST(FLOOR(sqrt(COUNT(*)) * 1e9 + 0.5) AS BIGINT) AS sq "
    "FROM documents GROUP BY lang), "
    "tot AS (SELECT SUM(sq) AS zq, SUM(n) AS corpus FROM src), "
    "plan AS (SELECT lang, n, CAST(FLOOR("
    "FLOOR(CAST(sq AS DOUBLE) / CAST(zq AS DOUBLE) * 1e9 + 0.5) / 1e9 "
    f"* FLOOR(corpus * {MIX_BUDGET_FRAC}) + 0.5) AS BIGINT) AS m "
    "FROM src, tot), "
    "ranked AS (SELECT lang, doc_id, ROW_NUMBER() OVER ("
    "PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
    "FROM documents), "
    "sel AS (SELECT r.lang, r.doc_id, p.n, p.m FROM ranked r "
    "JOIN plan p ON p.lang = r.lang WHERE r.rn <= p.m) "
    "SELECT lang, MIN(n) AS n_docs, MIN(m) AS target, "
    "CAST(COUNT(*) AS BIGINT) AS drawn, "
    "md5(array_to_string(list_sort(list(doc_id)), ',')) AS sample_md5 "
    "FROM sel GROUP BY lang ORDER BY lang"
)


@register(
    "q127_temperature_mix",
    oracle=_TEMP_MIX_ORACLE,
    tags=("pipeline", "sampling"),
    doc="Temperature-based mixture sampling (the multilingual-pretraining "
    "mixer, p_i proportional to n_i^(1/T), T=2; lang is the mixing key — "
    "the corpus's one genuinely skewed origin column): per-lang draw "
    "counts come from sqrt-share of the corpus under a half-corpus "
    "budget, and the draws themselves are the deterministic md5-rank "
    "prefix per lang (the q82/q83 discipline), so the SAME documents are "
    "chosen on every engine and every run — the mixture is reproducible "
    "end-to-end, which is what makes a training mix auditable. Compared "
    "with q83 (uniform target), this is the general alpha-power "
    "reweighting actually used to oversample low-resource languages "
    "(measured here: en drawn at ~36% vs ~60% for the tail langs). The "
    "plan is one counts aggregate broadcast into a per-lang ranking "
    "window, one shuffle each, at any corpus size. alpha=0.5 because "
    "sqrt is correctly-rounded IEEE in every engine (POWER is not), and "
    "each sqrt(n) term is 1e-9 half-up quantized to a BIGINT before the "
    "denominator sum, making z an exact integer sum — order-independent "
    "and bit-identical across engines by construction (ADVICE r8). "
    "Output pins the selection set itself via md5 of the sorted drawn "
    "ids.",
)
def q127_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    # one SQL statement = one driver round-trip (the table_view pattern);
    # same plan as the Column form, measured slightly faster
    out = spark.sql(f"""
        WITH src AS (SELECT lang, COUNT(1) AS n,
          CAST(FLOOR(sqrt(COUNT(1)) * 1e9 + 0.5) AS BIGINT) AS sq
          FROM {docs} GROUP BY lang),
        tot AS (SELECT SUM(sq) AS zq, SUM(n) AS corpus FROM src),
        plan AS (SELECT lang, n, CAST(FLOOR(
          FLOOR(CAST(sq AS DOUBLE) / CAST(zq AS DOUBLE) * 1e9 + 0.5) / 1e9
          * FLOOR(corpus * {MIX_BUDGET_FRAC}) + 0.5) AS BIGINT) AS m
          FROM src CROSS JOIN tot),
        ranked AS (SELECT lang, doc_id, ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
          AS rn FROM {docs}),
        sel AS (SELECT r.lang, r.doc_id, p.n, p.m FROM ranked r
          JOIN plan p ON p.lang = r.lang WHERE r.rn <= p.m)
        SELECT lang, MIN(n) AS n_docs, MIN(m) AS target,
          COUNT(1) AS drawn,
          md5(array_join(transform(sort_array(collect_list(doc_id)),
            x -> CAST(x AS STRING)), ',')) AS sample_md5
        FROM sel GROUP BY lang
    """)
    return bounded_sort(out, "lang")
