"""Sketch-operator guarantees (X27/X28): the registered oracles hash-gate
the sketch CONTENTS; these contracts pin the approximation PROPERTIES —
the one-sided errors that make each sketch safe to deploy."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataindexing_spark.operators import sketches
from bigdataindexing_spark.registry import queries
from bigdataindexing_spark.tables import table_view


def _exact_contaminated(spark, sf_dir):
    """Doc ids sharing any BLOOM_N-gram shingle with the eval split —
    ground truth for the no-false-negative check."""
    docs = table_view(spark, sf_dir, "documents")
    rows = spark.sql(f"""
        WITH d AS (
          SELECT doc_id, {sketches._SHINGLE_SPARK} AS s
          FROM (SELECT doc_id, split(lower(text), ' ') AS t FROM {docs})
          WHERE size(t) >= {sketches.BLOOM_N}
        ),
        ev AS (SELECT DISTINCT s FROM d WHERE doc_id % 97 = 0)
        SELECT DISTINCT doc_id FROM d LEFT SEMI JOIN ev USING (s)
        WHERE doc_id % 97 != 0
    """).collect()
    return {r["doc_id"] for r in rows}


def _bloom_flagged(spark, sf_dir):
    """Doc-level view of the registered query's flag predicate."""
    docs = table_view(spark, sf_dir, "documents")
    mask = sketches.bloom_mask(spark, sf_dir)
    spark.createDataFrame([(mask,)], "mask ARRAY<BIGINT>").createOrReplaceTempView(
        "bdi_bloom_mask_test"
    )
    pos = sketches._POS_SPARK.format(s="s", i="i")
    rows = spark.sql(f"""
        WITH d AS (
          SELECT doc_id, {sketches._SHINGLE_SPARK} AS s
          FROM (SELECT doc_id, split(lower(text), ' ') AS t FROM {docs}
                WHERE doc_id % 97 != 0)
          WHERE size(t) >= {sketches.BLOOM_N}
        )
        SELECT DISTINCT doc_id FROM d CROSS JOIN bdi_bloom_mask_test m
        WHERE forall(
          transform(sequence(0, {sketches.BLOOM_K - 1}), i -> {pos}),
          p -> (element_at(m.mask, CAST(p DIV 64 AS INT) + 1)
                & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)
    """).collect()
    return {r["doc_id"] for r in rows}


def test_bloom_never_false_negative(spark, sf_dir):
    """The Bloom guarantee decontamination depends on: every document
    with a TRUE shared shingle is flagged. False positives are allowed
    (and counted) — a missed contamination is not."""
    exact = _exact_contaminated(spark, sf_dir)
    flagged = _bloom_flagged(spark, sf_dir)
    assert exact, "fixture regressed: no truly contaminated docs"
    missed = exact - flagged
    assert not missed, f"bloom missed truly contaminated docs: {sorted(missed)[:5]}"
    # false-positive rate stays sane for a 64k-bit / 4-hash filter at
    # this load factor (loose bound: catches a broken hash layout where
    # everything collides, not ordinary collision noise)
    fp = flagged - exact
    assert len(fp) <= max(10, len(exact))


def test_bloom_registered_rollup_consistent(spark, sf_dir):
    """The registered per-lang rollup counts exactly the doc-level
    flags."""
    per_lang = {
        r["lang"]: r["flagged_docs"]
        for r in queries()["dedup_bloom_decontaminate"](spark, sf_dir).collect()
    }
    assert sum(per_lang.values()) == len(_bloom_flagged(spark, sf_dir))


def test_cms_overestimates_only(spark, sf_dir):
    """Count-min never undercounts: for every reported heavy hitter the
    sketch estimate >= the exact count (collisions only ADD)."""
    rows = queries()["txt_cms_heavy_hitters"](spark, sf_dir).collect()
    assert len(rows) == sketches.CMS_TOP
    for r in rows:
        assert r["cms_cnt"] >= r["true_cnt"], r
    # and the report is ordered by true count desc
    counts = [r["true_cnt"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_cms_counters_bounded_and_mergeable(spark, sf_dir):
    """The counter table never exceeds D×W rows (the fixed sketch
    state), and the sum over any hash row equals the total token count —
    the additivity that makes shard sketches merge by summation."""
    cms = spark.table(sketches._CMS_STORE.view(spark, sf_dir))
    assert cms.count() <= sketches.CMS_D * sketches.CMS_W
    docs = table_view(spark, sf_dir, "documents")
    total = spark.sql(
        f"SELECT COUNT(1) AS n FROM (SELECT explode(split(lower(text), ' ')) AS t "
        f"FROM {docs}) WHERE t != ''"
    ).collect()[0]["n"]
    per_row = {
        r["d"]: r["s"]
        for r in cms.groupBy("d").agg(F.sum("cnt").alias("s")).collect()
    }
    assert set(per_row) == set(range(sketches.CMS_D))
    assert all(v == total for v in per_row.values())


def test_cms_stream_multibatch_additivity(spark, sf_dir, tmp_path):
    """ST12's exactly-once claim, exercised across REAL micro-batches:
    the corpus split into 3 files streamed one per trigger must merge to
    exactly the one-shot sketch (counters are additive; batchId-keyed
    partials make replay idempotent)."""
    import os

    from bigdataindexing_spark.streaming import queries as sq
    from bigdataindexing_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    cms_dir = str(tmp_path / "cms")
    sq.run_foreach_batch(
        stream, sq.cms_upsert_batch(cms_dir), str(tmp_path / "ckpt")
    )
    batches = [n for n in os.listdir(cms_dir) if n.startswith("batch=")]
    assert len(batches) >= 3  # really ran multi-batch
    merged = {
        (r["d"], r["w"]): r["cnt"]
        for r in sq.read_cms(spark, cms_dir).collect()
    }
    oneshot = {
        (r["d"], r["w"]): r["cnt"]
        for r in sq.cms_partial_counters(docs).collect()
    }
    assert merged == oneshot


def test_quantile_sketch_error_bound_and_mergeability(spark, sf_dir):
    """q119: (a) every interpolated quantile is within one bin width of
    the EXACT percentile (the sketch's rank-error contract); (b) the
    per-shard partials merged by addition equal the one-pass corpus
    histogram (the mergeable algebra that makes the sketch streamable/
    distributable)."""
    from bigdataindexing_spark.tables import table

    est = {
        r["q"]: r["est"]
        for r in queries()["q119_quantile_sketch"](spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents")
    exact = docs.select(
        F.expr(
            "percentile(n_chars, array(0.5, 0.9, 0.99))"
        ).alias("p")
    ).collect()[0]["p"]
    for q, ex in zip(("p50", "p90", "p99"), exact):
        assert abs(est[q] - ex) <= sketches.QH_W, (q, est[q], ex)

    # merge algebra: partials summed across shards == one-pass histogram
    partials = sketches._build_quantile_hist(spark, sf_dir)
    merged = {
        r["bin"]: r["cnt"]
        for r in partials.groupBy("bin").agg(F.sum("cnt").alias("cnt")).collect()
    }
    onepass = {
        r["bin"]: r["cnt"]
        for r in docs.select(
            F.floor(F.col("n_chars") / sketches.QH_W).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert merged == onepass


def test_adaptive_quantile_rank_error_under_1pct(spark, sf_dir):
    """q126 contract (VERDICT r7 #7): for every percentile p in 1..99, the
    sketch's estimate must sit within 1% RANK of the true percentile —
    i.e. the fraction of raw values <= est differs from p/100 by < 0.01.
    Checked on the real corpus, not a toy distribution."""
    from bigdataindexing_spark.operators.sketches import (
        _AQ_SERVE,
        _AQ_STORE,
    )

    view = _AQ_STORE.view(spark, sf_dir)
    # widen the serve to all integer percentiles via the same SQL shape
    ranks = " UNION ALL ".join(
        f"SELECT 'p{p:02d}' AS q, CAST(CEIL({p / 100.0} * n) AS BIGINT) "
        f"AS rnk FROM n"
        for p in range(1, 100)
    )
    serve = _AQ_SERVE.format(src=view).replace(
        "SELECT 'p50' AS q, CAST(CEIL(0.5e0 * n) AS BIGINT) AS rnk FROM n\n"
        "      UNION ALL\n"
        "      SELECT 'p90', CAST(CEIL(0.9e0 * n) AS BIGINT) FROM n\n"
        "      UNION ALL\n"
        "      SELECT 'p99', CAST(CEIL(0.99e0 * n) AS BIGINT) FROM n",
        ranks,
    )
    ests = {r["q"]: r["est"] for r in spark.sql(serve).collect()}
    assert len(ests) == 99
    docs = table_view(spark, sf_dir, "documents")
    n = spark.sql(f"SELECT COUNT(1) AS n FROM {docs}").collect()[0]["n"]
    # a TIED value's whole mass lands on one side of "<= est" at once, so
    # no histogram (or any point estimator) can achieve rank error below
    # the largest single-value mass — the standard tie carve-out; this
    # corpus has a 1.0-1.2% tie at the small SFs (measured), so the bound
    # is max(1%, tie mass), which the sketch must meet EXACTLY (<=).
    tie = float(
        spark.sql(
            f"SELECT MAX(c) * 1.0 / SUM(c) AS m FROM "
            f"(SELECT COUNT(1) AS c FROM {docs} GROUP BY n_chars)"
        ).collect()[0]["m"]
    )
    bound = max(0.01, tie) + 1e-12
    conds = ", ".join(
        f"SUM(CASE WHEN n_chars <= {ests[f'p{p:02d}']} THEN 1 ELSE 0 END) "
        f"AS le_{p}"
        for p in range(1, 100)
    )
    row = spark.sql(f"SELECT {conds} FROM {docs}").collect()[0]
    worst = 0.0
    for p in range(1, 100):
        achieved = row[f"le_{p}"] / n
        worst = max(worst, abs(achieved - p / 100.0))
    assert worst <= bound, (
        f"worst rank error {worst:.4f} > bound {bound:.4f} (tie {tie:.4f})"
    )


def test_adaptive_quantile_shard_additivity(spark, sf_dir):
    """Merge-by-addition: partials binned under the SAME pass-1 layout
    from two disjoint shards must sum exactly (integer equality) to the
    full-corpus sketch — the property that lets 100 TB shards maintain
    local sketches and serve global quantiles with a bins-sized merge."""
    from bigdataindexing_spark.operators.sketches import _AQ_STORE

    view = _AQ_STORE.view(spark, sf_dir)
    full = {
        r["bin"]: r["cnt"]
        for r in spark.sql(
            f"SELECT bin, SUM(cnt) AS cnt FROM {view} GROUP BY bin"
        ).collect()
    }
    # source IS the shard key the store partials carry
    by_source = spark.sql(
        f"SELECT source, bin, SUM(cnt) AS cnt FROM {view} "
        f"GROUP BY source, bin"
    ).collect()
    summed: dict = {}
    sources = set()
    for r in by_source:
        sources.add(r["source"])
        summed[r["bin"]] = summed.get(r["bin"], 0) + r["cnt"]
    assert len(sources) > 1, "additivity needs at least two shards"
    assert summed == full
