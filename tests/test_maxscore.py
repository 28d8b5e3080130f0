"""MaxScore early-termination contracts (idx_maxscore_topk).

The oracle already proves pruned == exact at every SF; these tests pin
the two things the hash can't see: the term-partition algebra itself,
and that pruning genuinely FIRES on this corpus (an early-termination
operator whose essential set is always 'all terms' would pass the
oracle while pruning nothing).
"""

from __future__ import annotations

import math

from bigdataindexing_spark.index.search import (
    MAXSCORE_EPS,
    MAXSCORE_K,
    MAXSCORE_TERMS,
    _essential_terms,
    idx_maxscore_topk,
    search_index_table,
)

from pyspark.sql import functions as F


def _exact_impacts(spark, sf_dir):
    """Unpruned per-posting BM25 impacts recomputed from the segment's
    term_rows, postings, doclens and stats — the relation
    idx_maxscore_topk prunes; used by every contract below."""
    from bigdataindexing_spark.index.build import bm25_weight, corpus_stats

    rows = search_index_table(spark, sf_dir, "term_rows").filter(
        F.col("token").isin(list(MAXSCORE_TERMS))
    )
    dfreq = search_index_table(spark, sf_dir, "postings").select("token", "df")
    stats = corpus_stats(search_index_table(spark, sf_dir, "stats"))
    return (
        rows.join(F.broadcast(dfreq), "token")
        .join(search_index_table(spark, sf_dir, "doclens"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", F.expr(bm25_weight()).alias("w"))
    )


def test_essential_partition_algebra():
    maxw = {"rare": 3.0, "a": 0.5, "b": 0.4, "c": 0.3}
    # theta above every non-essential tail sum except the full set
    assert _essential_terms(maxw, theta=1.3) == ["rare"]
    # tail after ['rare','a'] sums 0.7 < 0.8 -> two essentials
    assert _essential_terms(maxw, theta=0.8) == ["rare", "a"]
    # unreachable theta -> everything essential (no pruning, still sound)
    assert _essential_terms(maxw, theta=float("-inf")) == [
        "rare",
        "a",
        "b",
        "c",
    ]
    # soundness invariant: the non-essential tail ALWAYS sums below theta
    for theta in (0.1, 0.35, 0.71, 1.2, 2.0, 4.0):
        ess = _essential_terms(maxw, theta)
        tail = [t for t in maxw if t not in ess]
        assert sum(maxw[t] for t in tail) < theta or not tail


def test_pruning_fires_and_result_matches_unpruned(spark, sf_dir):
    exact = (
        _exact_impacts(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(MAXSCORE_K)
        .collect()
    )
    pruned = idx_maxscore_topk(spark, sf_dir).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in exact]

    # pruning fires on this corpus even under the EPS slack: the rare
    # high-idf term's theta seed must render at least one common term
    # non-essential
    maxw = {
        r["token"]: r["maxw"]
        for r in search_index_table(spark, sf_dir, "term_maxw")
        .filter(F.col("token").isin(list(MAXSCORE_TERMS)))
        .collect()
    }
    seed_theta = pruned[MAXSCORE_K - 1]["score"] if len(pruned) >= MAXSCORE_K else float("-inf")
    ess = _essential_terms(maxw, seed_theta - MAXSCORE_EPS)
    assert len(ess) < len(maxw), (
        f"essential={ess} — no pruning margin; retune MAXSCORE_TERMS"
    )


def test_pruning_boundary_margins(spark, sf_dir):
    """ADVICE r9 #1: the oracle ranks on ROUND(score,4) with doc_id ASC
    tiebreak, so two hazards live at the grid: (a) a pruned doc whose
    exact score rounds into the k-th candidate's bucket, (b) a returned
    score sitting so close to a 1e-4 half boundary that summation-order
    wobble flips its rounded digit cross-engine. This audit measures
    both distances on the full exact score distribution — the analogue
    of q129's margin check."""
    exact = (
        _exact_impacts(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
        .collect()
    )
    scores = {r["doc_id"]: r["score"] for r in exact}
    by_rounded = sorted(
        scores.items(), key=lambda kv: (-round(kv[1], 4), kv[0])
    )
    assert len(by_rounded) >= MAXSCORE_K, "corpus too small for the audit"
    kth_rounded = round(by_rounded[MAXSCORE_K - 1][1], 4)

    # replay the operator's theta + essential-set derivation
    maxw = {
        r["token"]: r["maxw"]
        for r in search_index_table(spark, sf_dir, "term_maxw")
        .filter(F.col("token").isin(list(MAXSCORE_TERMS)))
        .collect()
    }
    top_term = max(maxw, key=lambda t: (maxw[t], t))
    seed_docs = {
        r["doc_id"]
        for r in search_index_table(spark, sf_dir, "term_rows")
        .filter(F.col("token") == top_term)
        .select("doc_id")
        .collect()
    }
    seed_sorted = sorted(
        ((scores[d], d) for d in seed_docs), key=lambda sd: (-sd[0], sd[1])
    )
    theta = (
        seed_sorted[MAXSCORE_K - 1][0]
        if len(seed_sorted) >= MAXSCORE_K
        else float("-inf")
    )
    essential = set(_essential_terms(maxw, theta - MAXSCORE_EPS))
    cand = {
        r["doc_id"]
        for r in search_index_table(spark, sf_dir, "term_rows")
        .filter(F.col("token").isin(sorted(essential)))
        .select("doc_id")
        .distinct()
        .collect()
    }
    excluded = set(scores) - cand
    for d in sorted(excluded):
        # (a) algebraic slack held empirically: every pruned doc's exact
        # score sits a full grid step under theta...
        assert scores[d] < theta - MAXSCORE_EPS / 2, (
            f"doc {d} exact score {scores[d]} within EPS of theta {theta}"
        )
        # ...so its ROUNDED score can never tie the k-th bucket
        assert round(scores[d], 4) < kth_rounded, (
            f"pruned doc {d} rounds to {round(scores[d], 4)} >= k-th "
            f"rounded {kth_rounded} — tiebreak could admit it"
        )
    # (b) no RETURNED score within wobble reach of a 1e-4 half boundary
    # (same two-class threshold as scripts/audit_round_boundaries.py)
    for d, _score in by_rounded[:MAXSCORE_K]:
        grid = scores[d] * 1e4
        dist = abs((grid - math.floor(grid)) - 0.5)
        floor = max(1e-6, 1e-11 * abs(grid))
        assert dist > floor, (
            f"top-k doc {d} score {scores[d]!r} sits {dist} grid-units "
            "from the 1e-4 half boundary — cross-engine round flip risk"
        )
