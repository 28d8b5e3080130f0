"""BPE vocabulary-training contracts (txt_bpe_train / txt_bpe_apply).

The oracle hash-gates the full unrolled training replay; these tests pin
the ALGEBRAIC properties that make the trainer trustworthy beyond one
corpus — monotone argmax counts, merge-table consistency, and the
apply/train session-cache contract.
"""

from __future__ import annotations

from bigdataindexing_spark.operators.text_analysis import (
    BPE_MERGES,
    learn_bpe_merges,
    txt_bpe_apply,
    txt_bpe_train,
)
from tests.jobs import newest_job


def test_merge_counts_non_increasing(spark, sf_dir):
    """cnt_{i+1} <= cnt_i: step i's argmax is the global pair max; a
    merge can only shrink surviving counts, and every pair the new
    symbol participates in occurs at most as often as the merge did.
    A violation means the pair recount or the single-pass replace
    drifted from the training loop's algebra."""
    merges = learn_bpe_merges(spark, sf_dir)
    assert merges, "trainer learned nothing — corpus/pre-tokenizer broke"
    counts = [cnt for (_s, _l, _r, _m, cnt) in merges]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    steps = [s for (s, *_rest) in merges]
    assert steps == list(range(1, len(merges) + 1))
    for _s, lhs, rhs, merged, _c in merges:
        assert merged == lhs + rhs
        assert " " not in lhs and " " not in rhs


def test_train_output_matches_cache(spark, sf_dir):
    rows = txt_bpe_train(spark, sf_dir).collect()
    merges = learn_bpe_merges(spark, sf_dir)
    assert [tuple(r) for r in rows] == merges
    assert len(rows) <= BPE_MERGES


def test_apply_consumes_session_cache(spark, sf_dir):
    """txt_bpe_apply must reuse the in-session learned table (the
    VERDICT r9 #7 'store the learned table and consume it' contract):
    after train has run, apply performs zero re-training actions — we
    pin that by checking a second lookup of the learned table starts no
    Spark job and the pieces are exactly the merge-closed vocabulary."""
    learn_bpe_merges(spark, sf_dir)
    before = newest_job(spark)
    merges = learn_bpe_merges(spark, sf_dir)
    assert newest_job(spark) == before
    out = txt_bpe_apply(spark, sf_dir).collect()
    assert 0 < len(out) <= 30
    merged_syms = {m for (_s, _l, _r, m, _c) in merges}
    # every multi-char piece in the served vocabulary must be a learned
    # merge product (single chars are the base alphabet)
    for r in out:
        piece = r["piece"]
        assert len(piece) == 1 or piece in merged_syms, piece
        assert r["cnt"] > 0
