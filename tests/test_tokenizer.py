"""BPE tokenizer tests: hand-computed golden pins for the pure core
(core/bpe.py), distributed-fit == serial-fit equivalence, and the
encode projection's contracts. Exact cross-engine parity of the apply
runs in test_oracle_parity (bpe_tokens)."""

from unittest import mock

from ocr_spark.core import bpe
from ocr_spark.core.bpe import (
    _apply_merge,
    build_word_map,
    encode_word,
    fit_bpe,
)


def fitted(fn, counts, n_merges):
    """``fn()`` (``fit_bpe`` or ``build_word_map``) trained on ``counts``
    and ``n_merges`` instead of the shipped ones."""
    with mock.patch.multiple(bpe, BPE_TRAIN_COUNTS=counts, BPE_N_MERGES=n_merges):
        return fn()


def test_fit_bpe_hand_computed():
    # counts: 'aab' x3, 'ab' x2. Pair counts round 1:
    #   (a,a)=3, (a,b)=3+2=5 -> merge ('a','b')
    # round 2: 'a ab' x3, 'ab' x2 -> (a,ab)=3 -> merge ('a','ab')
    # round 3: 'aab' whole, 'ab' whole -> no pair with count >= 2 -> stop
    merges = fitted(fit_bpe, {"aab": 3, "ab": 2}, 10)
    assert merges == [("a", "b"), ("a", "ab")]


def test_fit_bpe_tie_breaks_lexicographically():
    # 'xy' x2 and 'ab' x2: both pairs count 2 -> smallest pair first
    merges = fitted(fit_bpe, {"xy": 2, "ab": 2}, 1)
    assert merges == [("a", "b")]


def test_apply_merge_non_overlapping():
    assert _apply_merge(list("aaa"), ("a", "a")) == ["aa", "a"]
    assert _apply_merge(list("aaaa"), ("a", "a")) == ["aa", "aa"]


def test_encode_word_rank_order():
    # learned: ('a','b') rank 0, ('ab','c') rank 1 -> 'abc' -> ['abc']
    ranks = {("a", "b"): 0, ("ab", "c"): 1}
    assert encode_word("abc", ranks) == ["abc"]
    assert encode_word("cab", ranks) == ["c", "ab"]
    assert encode_word("zzz", ranks) == ["z", "z", "z"]


def test_build_word_map_covers_fitted_words():
    wm = fitted(build_word_map, {"hash": 5, "has": 3}, 10)
    assert set(wm) == {"hash", "has"}
    # every token re-concatenates to the word
    for w, t in wm.items():
        assert "".join(t.split(" ")) == w


def test_bpe_encode_contracts(spark):
    from ocr_spark.operators.tokenizer import bpe_encode

    wm = fitted(build_word_map, {"spark": 4, "merge": 3}, 10)
    rows = [(0, "spark merge"), (1, "spark UNKNOWNWORD"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bpe_encode(df, wm).collect()}
    assert len(out) == 3                         # never-drop
    assert out[0].n_words == 2 and out[0].n_unk == 0
    # fitted words fully merge back to themselves with these counts
    assert out[0].n_tokens == 2
    assert out[1].n_unk == 1 and out[1].n_tokens == 2
    assert out[2].n_words == 0 and out[2].n_tokens == 0

    import hashlib
    want = hashlib.md5(
        (wm["spark"] + " " + wm["merge"]).encode()
    ).hexdigest()
    assert out[0].tokens_fp == want

    # zero-shuffle stateless projection (streaming-safe)
    plan = bpe_encode(df, wm)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
