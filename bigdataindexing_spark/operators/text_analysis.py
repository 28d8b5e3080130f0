"""Text-analysis operators over the `documents` table (SURVEY.md §2.9 X4).

Large-scale training-data-pipeline primitives: token counting, quality
scoring, language identification, and document fingerprinting. Everything
is built-in column expressions (whole-stage codegen, no UDFs); each
operator has an exactly-equivalent duckdb oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.functions.text import tokens, word_shingles
from bigdataindexing_spark.registry import register
from bigdataindexing_spark.tables import bounded_sort, presort_barrier, spread, table

# Marker stopwords per language for the n-gram/keyword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "los", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}


@register(
    "q26_token_count",
    oracle="SELECT COUNT(*) AS cnt FROM (SELECT UNNEST(string_split(lower(text), ' ')) "
    "FROM documents WHERE doc_id <= 100)",
    tags=("text",),
)
def q26_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(table(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") <= 100)
        .select(F.explode(tokens("text")).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "txt_quality_score",
    oracle="SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens, "
    "CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct, "
    "FLOOR(len(list_distinct(t)) * 1.0 / len(t) * 1e4 + 0.5) / 1e4 AS ttr, "
    "FLOOR(list_sum(list_transform(t, w -> CAST(length(w) AS DOUBLE))) / len(t) "
    "* 1e4 + 0.5) / 1e4 AS avg_token_len, "
    "FLOOR(LEAST(len(t) / 100.0, 1.0) * (len(list_distinct(t)) * 1.0 / len(t)) "
    "* 1e4 + 0.5) / 1e4 AS quality "
    "FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents) "
    "ORDER BY doc_id",
    tags=("text",),
    doc="Per-document quality features: token count, type-token ratio, "
    "average token length, and a composite quality score in [0,1]. "
    "Ratios of small ints land exactly ON 1e-4 half boundaries (ttr "
    "23/32 = 0.71875 in the live data), so the rounding is the "
    "explicit half-up FLOOR(x*1e4+0.5)/1e4 spelled identically in "
    "both engines — engine ROUND rules (half-up vs half-even) can "
    "never be trusted on exact-half inputs.",
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("t")
    n = F.size(t)
    nd = F.size(F.array_distinct(t))
    sum_len = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )

    from bigdataindexing_spark.tables import half_up_col

    def hup4(x):
        return half_up_col(x, 4)

    return presort_barrier(
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("t"))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            nd.alias("n_distinct"),
            hup4(nd * 1.0 / n).alias("ttr"),
            hup4(sum_len / n).alias("avg_token_len"),
            hup4(F.least(n / 100.0, F.lit(1.0)) * (nd * 1.0 / n)).alias(
                "quality"
            ),
        ),
        "doc_id",
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    sums = ", ".join(
        "SUM(CASE WHEN w IN ({}) THEN 1 ELSE 0 END) AS s_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in LANG_MARKERS.items()
    )
    return (
        "WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS w "
        "FROM documents), "
        f"sc AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id) "
        "SELECT doc_id, CASE "
        "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' "
        "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' "
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS detected_lang "
        "FROM sc ORDER BY doc_id"
    )


@register(
    "txt_langid",
    oracle=_langid_oracle(),
    tags=("text",),
    doc="Marker-stopword language-ID heuristic: score per language = count "
    "of marker-word occurrences; argmax with fixed tie-break order. The "
    "per-language scores are ROW-LOCAL array expressions (size(filter(t, "
    "marker-set))) — no explode, no per-doc shuffle, the whole classifier "
    "runs inside the scan stage and is embarrassingly parallel at any "
    "scale. The oracle computes the same counts via UNNEST + GROUP BY, "
    "proving the row-local form equals the relational form.",
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")

    def cnt(lang: str) -> str:
        terms = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return f"size(filter(t, w -> w IN ({terms})))"

    en, de, es, fr = cnt("en"), cnt("de"), cnt("es"), cnt("fr")
    out = spark.sql(f"""
        SELECT doc_id,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                      THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS detected_lang
        FROM (SELECT doc_id, {en} AS s_en, {de} AS s_de,
                     {es} AS s_es, {fr} AS s_fr
              FROM (SELECT doc_id, split(lower(text), ' ') AS t
                    FROM {docs}))
    """)
    return presort_barrier(out, "doc_id").orderBy("doc_id")


@register(
    "txt_fingerprint",
    oracle="WITH tok AS (SELECT doc_id, md5(lower(text)) AS fp, "
    "string_split(lower(text), ' ') AS t FROM documents), "
    "sh AS (SELECT doc_id, fp, UNNEST(list_distinct(list_transform("
    "range(0, len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS s "
    "FROM tok WHERE len(t) >= 3) "
    "SELECT doc_id, fp, MIN(md5(s)) AS min_shingle_fp "
    "FROM sh GROUP BY doc_id, fp ORDER BY doc_id",
    tags=("text",),
    doc="Content fingerprints: whole-document md5 plus a winnowing-style "
    "min-hash fingerprint over 3-word shingles (rolling-hash family).",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(F.lower("text")).alias("fp"),
            tokens("text").alias("t"),
        )
        .filter(F.size("t") >= 3)
    )
    return (
        docs.select("doc_id", "fp", F.explode(word_shingles(F.col("t"))).alias("s"))
        .groupBy("doc_id", "fp")
        .agg(F.min(F.md5("s")).alias("min_shingle_fp"))
        .orderBy("doc_id")
    )


@register(
    "txt_bpe_tokens",
    oracle="SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct "
    "FROM (SELECT UNNEST(regexp_extract_all(lower(text), "
    "'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok FROM documents)",
    tags=("text",),
    doc="BPE-ish regex tokenization (letter runs / digit runs / single "
    "punctuation) — the pre-tokenizer shape BPE vocabularies train over; "
    "JVM-side regexp_extract_all, one shuffle for the distinct.",
)
def txt_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        spread(table(spark, sf_dir, "documents"))
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
                )
            ).alias("tok")
        )
    )
    return toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )


@register(
    "txt_normalize",
    oracle="SELECT doc_id, sha256(trim(regexp_replace(regexp_replace("
    "lower(text), '<[^>]*>', ' ', 'g'), '[ \\t\\n\\r]+', ' ', 'g'))) AS norm_sha "
    "FROM documents WHERE doc_id < 200 ORDER BY doc_id",
    tags=("text",),
    doc="Corpus normalization: strip markup, lowercase, collapse "
    "whitespace, trim — the canonical pre-dedup cleaning pass, all "
    "JVM-side regexp_replace. The content hash of the normalized text is "
    "compared so the full transform (not a summary) is verified.",
)
def txt_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "<[^>]*>", " "),
            "[ \\t\\n\\r]+",
            " ",
        )
    )
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id", F.sha2(F.encode(norm, "utf-8"), 256).alias("norm_sha")
        )
        .transform(lambda d: bounded_sort(d, "doc_id", barrier=True))
    )


@register(
    "txt_repetition",
    oracle="SELECT doc_id, FLOOR((1 - len(list_distinct(g)) / "
    "CAST(len(g) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS dup2_frac FROM ("
    "SELECT doc_id, list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i + 1]) AS g FROM ("
    "SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents) "
    "WHERE len(t) >= 2) ORDER BY doc_id",
    tags=("text", "pipeline"),
    doc="Gopher-style repetition signal: per-document duplicate word-"
    "2-gram fraction (1 - distinct/total). High values flag the "
    "boilerplate/spam documents a pretraining pipeline drops before "
    "tokenization. The whole measurement is row-local higher-order "
    "array math (transform + array_distinct) inside whole-stage "
    "codegen: zero shuffles before the final doc_id sort, so it costs "
    "one corpus scan at any scale.",
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens("text")
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.get("t", i), F.get("t", i + 1)),
    )
    dup = F.lit(1) - F.size(F.array_distinct(grams)) / F.size(grams)
    from bigdataindexing_spark.tables import half_up_col

    # exact dyadic ratios (3/32 = 0.09375) land ON the 1e-4 half
    # boundary: explicit half-up, never engine ROUND (see txt_quality_score)
    dup4 = half_up_col(dup, 4)
    return presort_barrier(
        d.select("doc_id", dup4.alias("dup2_frac")), "doc_id"
    ).orderBy("doc_id")


@register(
    "q100_unigram_logprob",
    oracle="WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) "
    "AS w FROM documents), "
    "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok WHERE w <> '' "
    "GROUP BY doc_id, w), "
    "vocab AS (SELECT w, SUM(tf) AS cnt FROM tf GROUP BY w), "
    "n AS (SELECT SUM(cnt) AS n FROM vocab) "
    "SELECT doc_id, FLOOR(SUM(tf * -LN(cnt / n)) / SUM(tf) * 1e3 + 0.5) / 1e3 AS nll "
    "FROM tf JOIN vocab USING (w) CROSS JOIN n "
    "GROUP BY doc_id ORDER BY doc_id",
    tags=("text", "pipeline", "quality", "serve"),
    doc="Corpus-LM quality score (CCNet-style perplexity proxy): train a "
    "unigram language model on the corpus itself (token -> count / N) "
    "and score every document by its mean negative log-likelihood. Low "
    "nll = made of common words (fluent but possibly boilerplate), high "
    "nll = rare-token soup (OCR noise, spam, wrong-language residue) — "
    "the standard cheap stand-in for KenLM perplexity filtering in "
    "pretraining pipelines. Both the LM counts and the per-document "
    "term frequencies are SERVED from the materialized index store "
    "(search_index_table — the same async-maintained tier idx_bm25_serve "
    "reads): the unigram LM is exactly a marginal of the inverted "
    "index, so scoring touches no raw document and re-tokenizes "
    "nothing. The tf-weighted sum is algebraically the same mean NLL "
    "over token instances; the vocab relation (bounded by vocabulary "
    "size, not corpus size — cap to top-V at 100 TB) broadcasts to the "
    "scoring join, so the only real shuffle is the per-document "
    "aggregate. Oracle recomputes the same weighted form from raw text.",
)
def q100_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.index.search import search_index_table
    from bigdataindexing_spark.tables import half_up_col

    tf = search_index_table(spark, sf_dir, "term_rows").select(
        "doc_id", F.col("token").alias("w"), "tf"
    )
    vocab = tf.groupBy("w").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    nll = -F.log(F.col("cnt") / F.col("n"))
    return (
        tf.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            # 3-decimal half-up: the r07/r08 boundary audit found an nll
            # 3.5e-5 from a 1e-4 half boundary at sf0.1; parallel-sum +
            # libm-vs-java LN ulp wobble makes 4dp a latent flake
            half_up_col(F.sum(F.col("tf") * nll) / F.sum("tf"), 3).alias(
                "nll"
            )
        )
        .orderBy("doc_id")
    )


@register(
    "q105_lang_top_bigrams",
    oracle="WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') "
    "AS t FROM documents), "
    "g AS (SELECT lang, UNNEST(list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i + 1])) AS bg FROM toks WHERE len(t) >= 2), "
    "c AS (SELECT lang, bg, COUNT(*) AS cnt FROM g GROUP BY lang, bg), "
    "r AS (SELECT lang, bg, cnt, ROW_NUMBER() OVER (PARTITION BY lang "
    "ORDER BY cnt DESC, bg) AS rk FROM c) "
    "SELECT lang, bg, cnt, rk FROM r WHERE rk <= 5 ORDER BY lang, rk",
    tags=("text", "pipeline", "corpus-stats"),
    doc="Per-language top-5 word bigrams — the corpus statistic a "
    "tokenizer-training / merge-rule-induction step starts from, and "
    "the per-stratum heavy-hitter shape generally. Bigrams are "
    "row-local array math; the count is a two-stage (lang, bigram) "
    "aggregate with map-side combine; the top-5 is a rank window "
    "PARTITIONED BY lang (cnt DESC with bigram tie-break for "
    "determinism), so no global sort ever sees the full bigram "
    "relation — at 100 TB each language's rank stage only handles its "
    "own distinct bigrams.",
)
def q105_lang_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    ranked = spark.sql(f"""
        WITH d AS (
          SELECT lang, split(lower(text), ' ') AS t FROM {docs}
        ),
        g AS (
          SELECT lang,
                 explode(transform(sequence(0, size(t) - 2),
                   i -> concat_ws(' ', get(t, i), get(t, i + 1)))) AS bg
          FROM d WHERE size(t) >= 2
        ),
        c AS (SELECT lang, bg, COUNT(1) AS cnt FROM g GROUP BY lang, bg)
        SELECT lang, bg, cnt, rk FROM (
          SELECT lang, bg, cnt,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY cnt DESC, bg) AS rk
          FROM c
        ) WHERE rk <= 5
    """)
    return bounded_sort(ranked, "lang", "rk", barrier=True)


# Denylist for the scrub demonstration: terms chosen to actually occur in
# the synthetic corpus so the redaction path is exercised, standing in
# for a real deployment's PII patterns / banned-phrase list.
SCRUB_TERMS = ("customer", "vector")
SCRUB_MASK = "[redacted]"


@register(
    "txt_blocklist_scrub",
    oracle="WITH s AS (SELECT doc_id, string_split(lower(text), ' ') AS t "
    "FROM documents), "
    "r AS (SELECT doc_id, "
    "CAST(len(list_filter(t, x -> x IN ('customer', 'vector'))) AS BIGINT) "
    "AS n_redacted, "
    "md5(array_to_string(list_transform(t, x -> CASE WHEN x IN "
    "('customer', 'vector') THEN '[redacted]' ELSE x END), ' ')) "
    "AS clean_md5 FROM s) "
    "SELECT doc_id, n_redacted, clean_md5 FROM r "
    "WHERE n_redacted > 0 ORDER BY doc_id",
    tags=("text", "pipeline", "redaction"),
    doc="Blocklist redaction (the PII-scrub / banned-term shape every "
    "training pipeline runs before release): tokens on the denylist are "
    "replaced with a mask, and each document reports its redaction "
    "count plus the md5 of the scrubbed text — the content proof that "
    "both engines produced the identical cleaned document, not just the "
    "same counts. Entirely row-local (tokenize, filter-count, "
    "transform-mask, rejoin, hash — zero shuffles before the final "
    "sort), so it is embarrassingly parallel at 100 TB; token-level "
    "CASE matching rather than regex keeps the semantics identical "
    "across engines (Java util.regex vs duckdb RE2 dialects diverge on "
    "word-boundary classes). A real deployment swaps the IN-list for "
    "broadcast-joined pattern tables or an Arrow-batched NER pass; the "
    "dataflow shape is unchanged.",
)
def txt_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    in_list = ", ".join(f"'{t}'" for t in SCRUB_TERMS)
    # one SQL-fragment parse (see functions/vectors.py note on py4j
    # round-trips); t is bound by the outer lateral-style select below
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", tokens("text").alias("t")
    )
    scrubbed = d.select(
        "doc_id",
        F.expr(
            f"cast(size(filter(t, x -> x IN ({in_list}))) as bigint)"
        ).alias("n_redacted"),
        F.expr(
            f"md5(array_join(transform(t, x -> CASE WHEN x IN ({in_list}) "
            f"THEN '{SCRUB_MASK}' ELSE x END), ' '))"
        ).alias("clean_md5"),
    )
    return bounded_sort(
        scrubbed.filter(F.col("n_redacted") > 0), "doc_id", barrier=True
    )


@register(
    "txt_char_entropy",
    oracle="WITH ch AS (SELECT doc_id, UNNEST(string_split_regex(text, '')) "
    "AS c FROM documents WHERE length(text) > 0), "
    "freq AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c), "
    "tot AS (SELECT doc_id, SUM(n) AS len FROM freq GROUP BY doc_id) "
    "SELECT f.doc_id, "
    "ROUND(SUM(-(n * 1.0 / len) * log2(n * 1.0 / len)), 4) AS entropy "
    "FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id "
    "ORDER BY entropy, doc_id LIMIT 100",
    tags=("text", "pipeline"),
    doc="Per-document character Shannon entropy — the standard "
    "low-entropy screen a curation pipeline runs alongside the "
    "length/punct/stopword quality score (txt_quality_score): repeated "
    "boilerplate, padded spam, and binary-ish junk score far below "
    "natural text (~4.1 bits/char for English), and the BOTTOM-100 "
    "ranking surfaces exactly the documents to drop. JVM end-to-end: "
    "one char explode inside the scan stage, one hash aggregate on "
    "(doc_id, char) — the q62 token-histogram shape at character "
    "granularity — then a doc-keyed entropy reduction; no Python, no "
    "data-proportional driver work, output bounded at any corpus size.",
)
def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    # split(text, '') yields a trailing '' element in Spark (duckdb's
    # string_split_regex does not) — filter empties so both engines
    # count the same characters
    return bounded_sort(
        spark.sql(f"""
            WITH ch AS (
              SELECT doc_id, c
              FROM (SELECT doc_id, explode(split(text, '')) AS c
                    FROM {docs} WHERE length(text) > 0)
              WHERE c <> ''
            ),
            freq AS (
              SELECT doc_id, c, COUNT(1) AS n FROM ch GROUP BY doc_id, c
            ),
            tot AS (SELECT doc_id, SUM(n) AS len FROM freq GROUP BY doc_id)
            SELECT f.doc_id,
                   ROUND(SUM(-(n * 1.0D / len) * log2(n * 1.0D / len)), 4)
                     AS entropy
            FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id
        """),
        "entropy",
        "doc_id",
    ).limit(100)


# --- interpolated bigram LM scorer (round 8) -----------------------------------
#
# Depth on X6 (q100's unigram NLL): the Jelinek-Mercer-interpolated
# BIGRAM model — P(w_i | w_{i-1}) = L*c(prev,w)/c(prev) + (1-L)*c(w)/N —
# that CCNet-class quality filtering actually approximates KenLM with.
# The LM itself (bigram and context counts) materializes ONCE per
# session as a store: scoring joins the store, never re-counts the
# corpus, which is the serving economics at 100 TB (the LM is
# vocabulary^2-bounded and prunable to top-K contexts; documents stream
# through it).
BIGRAM_LAMBDA = 0.7


def _build_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, c_ab, c_a, lp): bigram count, context total, and the FULL
    interpolated -LN term, one corpus pass (lag window per doc, grouped
    counts joined on the context). lp depends only on the bigram —
    c(a,b), c(a), the unigram count c(b) over ALL tokens (first tokens
    included, exactly the oracle's uni CTE) and the corpus total N are
    all build-time constants — so the entire Jelinek-Mercer expression
    precomputes here and the serve never re-derives the unigram
    marginals (r11; guide §2.4 — the aggregation belonged in the build,
    not the serve)."""
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH seq AS (
          SELECT doc_id, pos, token AS b,
                 LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS a
          FROM (SELECT doc_id,
                       posexplode(split(lower(text), ' ')) AS (pos, token)
                FROM {docs})
          WHERE token != ''
        ),
        bc AS (SELECT a, b, COUNT(1) AS c_ab FROM seq
               WHERE a IS NOT NULL AND a != '' GROUP BY a, b),
        ac AS (SELECT a, SUM(c_ab) AS c_a FROM bc GROUP BY a),
        uni AS (SELECT b AS w, COUNT(1) AS c FROM seq GROUP BY b),
        n AS (SELECT SUM(c) AS n FROM uni)
        SELECT bc.a, bc.b, bc.c_ab, ac.c_a,
               -LN({BIGRAM_LAMBDA} * bc.c_ab / ac.c_a
                   + {1 - BIGRAM_LAMBDA} * uni.c / n.n) AS lp
        FROM bc JOIN ac ON ac.a = bc.a
        JOIN uni ON uni.w = bc.b
        CROSS JOIN n
    """)


from bigdataindexing_spark.sources.store_dirs import (  # noqa: E402
    SessionParquetStore,
    write_store,
)

_BIGRAM_LM_STORE = SessionParquetStore(
    "bigram_lm",
    lambda spark, sf_dir, path: write_store(
        _build_bigram_lm(spark, sf_dir), path, "a", "b"
    ),
)


@register(
    "q129_bigram_logprob",
    oracle="WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t "
    "FROM documents), "
    "seq AS (SELECT doc_id, pos, token AS b, "
    "LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS a "
    "FROM (SELECT doc_id, UNNEST(t) AS token, "
    "generate_subscripts(t, 1) AS pos FROM tok) WHERE token != ''), "
    "pairs AS (SELECT doc_id, a, b FROM seq WHERE a IS NOT NULL AND a != ''), "
    "bc AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b), "
    "ac AS (SELECT a, SUM(c_ab) AS c_a FROM bc GROUP BY a), "
    "uni AS (SELECT b AS w, COUNT(*) AS c FROM seq GROUP BY b), "
    "n AS (SELECT SUM(c) AS n FROM uni) "
    "SELECT p.doc_id, "
    f"FLOOR(AVG(-LN({BIGRAM_LAMBDA} * bc.c_ab / ac.c_a "
    f"+ {1 - BIGRAM_LAMBDA} * uni.c / n.n)) * 1e3 + 0.5) / 1e3 AS nll2 "
    "FROM pairs p JOIN bc ON bc.a = p.a AND bc.b = p.b "
    "JOIN ac ON ac.a = p.a JOIN uni ON uni.w = p.b CROSS JOIN n "
    "GROUP BY p.doc_id ORDER BY p.doc_id",
    tags=("text", "pipeline", "quality", "serve"),
    doc="Interpolated bigram LM quality score (Jelinek-Mercer, L=0.7): "
    "every document's mean negative log-likelihood under a bigram model "
    "of the corpus itself — the next step up from q100's unigram and "
    "the standard cheap stand-in for KenLM perplexity filtering. The "
    "FULL per-bigram interpolated -LN term SERVES from a session-"
    "materialized LM store (vocabulary^2-bounded, prunable to top-K "
    "contexts at scale): every input to the term — c(a,b), c(a), the "
    "unigram count and corpus total — is a build-time constant, so the "
    "store carries lp itself and the serve is ONE pass over the "
    "document's bigram stream joined against the store on the bigram "
    "key (r11; the previous serve re-marginalized unigram counts off "
    "the store, re-scanned documents for first-token counts, and "
    "full-outer-joined them PER SERVE). Hash-partition both sides by "
    "context at 100 TB. 3-decimal half-up output (the q100 "
    "discipline: LN ulp + sum-order wobble make finer grids latent "
    "flakes; the boundary audit re-verifies the margin every sweep).",
)
def q129_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataindexing_spark.tables import table_view

    lm = _BIGRAM_LM_STORE.view(spark, sf_dir)
    docs = table_view(spark, sf_dir, "documents")
    out = spark.sql(f"""
        WITH seq AS (
          SELECT doc_id, pos, token AS b,
                 LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS a
          FROM (SELECT doc_id,
                       posexplode(split(lower(text), ' ')) AS (pos, token)
                FROM {docs})
          WHERE token != ''
        ),
        pairs AS (SELECT doc_id, a, b FROM seq
                  WHERE a IS NOT NULL AND a != '')
        SELECT p.doc_id,
               FLOOR(AVG(lm.lp) * 1e3 + 0.5) / 1e3 AS nll2
        FROM pairs p
        JOIN {lm} lm ON lm.a = p.a AND lm.b = p.b
        GROUP BY p.doc_id
    """)
    return bounded_sort(out, "doc_id", barrier=True)


# --- BPE vocabulary TRAINING (round 10, VERDICT r9 #7) ------------------------
# txt_bpe_tokens pre-tokenizes; the corpus-scale pipeline op is LEARNING
# the merge table: k iterations of (count adjacent symbol pairs over the
# word-frequency table -> argmax with deterministic tie-break -> apply
# the merge). State lives on a bounded word-frequency relation (top
# BPE_VOCAB_WORDS distinct pre-tokens by frequency — the standard
# bounded-sample trainer), so each iteration is one cheap aggregate over
# a cached 256-row table plus a 1-row collect; the corpus itself is
# touched exactly once to build the frequency table. Merge application
# is single-pass, left-to-right, non-overlapping on the space-joined
# symbol string (``replace(' l r ', ' lr ')``) — a run like ``a a a a``
# becomes ``aa a a`` in one step, NOT ``aa aa`` (the consumed boundary
# space is not re-matched). Both engines' ``replace`` builtins share
# these exact semantics, so the duckdb oracle replays the whole training
# loop (unrolled k times) bit-identically.

BPE_MERGES = 16
BPE_VOCAB_WORDS = 256
BPE_TOP_PIECES = 30
_BPE_PRETOK = "[a-z]+|[0-9]+|[^a-z0-9 ]"

def _bpe_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq, f): top-frequency pre-tokens as boundary-spaced symbol
    strings — the bounded trainer state. ' '-prefixed by the (.) ->
    ' $1' expansion, ' '-suffixed by the concat."""
    docs = spread(table(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PRETOK), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), "w")
        .limit(BPE_VOCAB_WORDS)
        .select(
            F.concat(
                F.regexp_replace("w", "(.)", " $1"), F.lit(" ")
            ).alias("seq"),
            "f",
        )
    )


def _build_bpe_merges(
    spark: SparkSession, sf_dir: str, path: str
) -> "list[tuple[int, str, str, str, int]]":
    """Train: k rounds of pair-count -> argmax -> merge over the cached
    word-frequency table. Each round's driver traffic is ONE row (the
    winning pair) — the train_centroids bounded-collect shape. The merge
    table is written as ``(step, lhs, rhs, merged, pair_count)`` and
    returned."""
    wf = _bpe_word_freq(spark, sf_dir).cache()
    try:
        wf.count()
        merges: "list[tuple[int, str, str, str, int]]" = []
        cur = wf
        for step in range(1, BPE_MERGES + 1):
            words = cur.select(
                F.split(F.trim("seq"), " ").alias("a"), "f"
            ).filter(F.size("a") >= 2)
            pair = (
                words.select(
                    "f",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("a"), 1, F.size("a") - 1),
                            F.slice(F.col("a"), 2, F.size("a") - 1),
                            lambda x, y: F.struct(
                                x.alias("lhs"), y.alias("rhs")
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.lhs", "p.rhs")
                .agg(F.sum("f").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not pair:
                break
            lhs, rhs, cnt = pair[0]["lhs"], pair[0]["rhs"], pair[0]["cnt"]
            merges.append((step, lhs, rhs, lhs + rhs, int(cnt)))
            cur = cur.select(
                F.replace(
                    "seq", F.lit(f" {lhs} {rhs} "), F.lit(f" {lhs}{rhs} ")
                ).alias("seq"),
                "f",
            )
    finally:
        wf.unpersist()
    write_store(
        spark.createDataFrame(
            merges,
            schema="step INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT",
        ),
        path,
        "step",
    )
    return merges


# the learned merge table, once per session: txt_bpe_apply consumes what
# txt_bpe_train learned without re-running the 16 training actions
_BPE_MERGES = SessionParquetStore("bpe_merges", _build_bpe_merges)


def learn_bpe_merges(
    spark: SparkSession, sf_dir: str
) -> "list[tuple[int, str, str, str, int]]":
    """The session's learned merge table (trained on first use)."""
    return _BPE_MERGES.meta(spark, sf_dir)


def _bpe_train_ctes() -> "tuple[list[str], list[str]]":
    """Unrolled duckdb replay of the training loop: (CTE parts, one
    SELECT per learned step). Shared by the train and apply oracles."""
    # Every per-step CTE is MATERIALIZED: w_i is referenced twice per
    # step (directly by w_{i+1} and through b_{i+1}'s pair count), so an
    # inlined plan re-expands the whole chain 2^k times — duckdb runs
    # out of file handles before it runs out of patience. Materializing
    # makes the replay linear in k, which is also what the Spark side
    # does (one cached 256-row relation mutated per step).
    parts = [
        "tok AS MATERIALIZED (SELECT UNNEST(regexp_extract_all(lower(text), "
        f"'{_BPE_PRETOK}')) AS w FROM documents)",
        "wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok "
        f"GROUP BY w ORDER BY f DESC, w LIMIT {BPE_VOCAB_WORDS})",
        "w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS seq, f FROM wf)",
    ]
    sels = []
    for i in range(1, BPE_MERGES + 1):
        parts.append(
            f"""x{i} AS (SELECT f, string_split(trim(seq), ' ') AS a FROM w{i - 1}),
p{i} AS (
  SELECT a[i] AS lhs, a[i + 1] AS rhs, CAST(SUM(f) AS BIGINT) AS cnt
  FROM (SELECT f, a, UNNEST(range(1, len(a))) AS i FROM x{i})
  GROUP BY lhs, rhs),
b{i} AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(seq, ' ' || b.lhs || ' ' || b.rhs || ' ',
                 ' ' || b.lhs || b.rhs || ' ') AS seq, f
  FROM w{i - 1} CROSS JOIN b{i} b)"""
        )
        sels.append(
            f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, "
            f"cnt AS pair_count FROM b{i}"
        )
    return parts, sels


def _bpe_train_oracle() -> str:
    parts, sels = _bpe_train_ctes()
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + " UNION ALL ".join(sels)
        + " ORDER BY step"
    )


@register(
    "txt_bpe_train",
    oracle=_bpe_train_oracle,
    # bench=False, trained-quantizer-family precedent (dedup_semantic):
    # the duckdb oracle replays the unrolled training loop — a
    # correctness gate, not comparable work — and the Spark side's
    # session merge store would make every post-first bench pass
    # measure a store scan, not training.
    bench=False,
    tags=("text",),
    doc="BPE vocabulary TRAINING (Sennrich et al. 2016, the bounded-"
    "sample trainer): k=16 iterations of pair-count -> deterministic "
    "argmax (count DESC, pair ASC) -> single-pass merge over the top-"
    "256 pre-token frequency table. Output is the learned merge table "
    "(step, lhs, rhs, merged, pair_count), a session store, "
    "and txt_bpe_apply tokenizes the corpus with it. The duckdb oracle "
    "replays all 16 unrolled iterations in SQL — training itself is "
    "hash-gated, not just the final vocabulary. At 100 TB the frequency "
    "table is the only corpus-sized aggregate (one shuffle); every "
    "iteration is bounded work on the vocabulary relation.",
)
def txt_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bounded_sort(_BPE_MERGES.df(spark, sf_dir), "step")


@register(
    "txt_bpe_apply",
    oracle=lambda: (
        "WITH "
        + ",\n".join(
            _bpe_train_ctes()[0]
            + [
                "dw AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY w)",
                "ap0 AS (SELECT regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS seq, f FROM dw)",
            ]
            + [
                f"""ap{i} AS MATERIALIZED (
  SELECT CASE WHEN b.lhs IS NULL THEN seq
         ELSE replace(seq, ' ' || b.lhs || ' ' || b.rhs || ' ',
                      ' ' || b.lhs || b.rhs || ' ') END AS seq, f
  FROM ap{i - 1} LEFT JOIN b{i} b ON TRUE)"""
                for i in range(1, BPE_MERGES + 1)
            ]
        )
        + f"""
SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt
FROM (SELECT f, UNNEST(string_split(trim(seq), ' ')) AS piece FROM ap{BPE_MERGES})
GROUP BY piece ORDER BY cnt DESC, piece LIMIT {BPE_TOP_PIECES}"""
    ),
    # bench=False: the oracle must re-LEARN the merges (unrolled replay)
    # before applying them — not comparable to the Spark side's
    # store-consuming apply (see txt_bpe_train).
    bench=False,
    tags=("text",),
    doc="Tokenize the corpus with the vocabulary txt_bpe_train learned "
    "in-session (store hit: zero re-training actions when train ran "
    "first): every distinct pre-token is symbol-split and the k merges "
    "replay in learned order as chained JVM replace()s, weighted by "
    "corpus frequency; output is the top-30 vocabulary pieces by "
    "occurrence. The oracle re-learns the merges (unrolled) and applies "
    "them the same way — LEFT JOIN ON TRUE instead of CROSS JOIN so an "
    "exhausted merge step (empty b_i on a tiny corpus) passes sequences "
    "through unchanged in both engines.",
)
def txt_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = learn_bpe_merges(spark, sf_dir)
    docs = spread(table(spark, sf_dir, "documents"))
    seq = F.concat(F.regexp_replace("w", "(.)", " $1"), F.lit(" "))
    for _step, lhs, rhs, _merged, _cnt in merges:
        seq = F.replace(seq, F.lit(f" {lhs} {rhs} "), F.lit(f" {lhs}{rhs} "))
    pieces = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PRETOK), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(F.explode(F.split(F.trim(seq), " ")).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(BPE_TOP_PIECES)
    )
    return pieces
