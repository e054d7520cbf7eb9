"""Quality filter rules (each reason label witnessed) and bigram LM
scoring (ordering, edge cases, determinism)."""

import math

import pytest

from ocr_spark.operators.quality import bigram_lm_scores, quality_filter


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_quality_filter_reason_labels(spark):
    rows = [
        (0, " ".join(f"tok{i}" for i in range(30))),        # kept
        (1, "just five words right here"),                  # too_short (5)
        (2, " ".join(["echo"] * 40)),                       # repetitive (ratio 1.0)
        (3, " ".join(["a"] * 30)),                          # word_len (mean 1.0) — checked before repetitive
        (4, " ".join(["!!!!####"] * 25)),                   # symbol_heavy (mean len 8 passes word_len)
        (5, ""),                                            # empty -> too_short
    ]
    out = _rows(quality_filter(spark.createDataFrame(rows, "doc_id long, text string")))
    assert out[0]["kept"] and out[0]["drop_reason"] is None
    assert out[1]["drop_reason"] == "too_short"
    assert out[2]["drop_reason"] == "repetitive" and out[2]["top_word_ratio"] == 1.0
    assert out[3]["drop_reason"] == "word_len"
    assert out[4]["drop_reason"] == "symbol_heavy"
    assert out[5]["drop_reason"] == "too_short" and out[5]["n_words"] == 0
    assert not any(out[i]["kept"] for i in (1, 2, 3, 4, 5))


def test_quality_filter_measurements(spark):
    df = spark.createDataFrame([(7, "aa bbb aa")], "doc_id long, text string")
    got = _rows(quality_filter(df))[7]
    assert got["n_words"] == 3
    assert got["mean_word_len"] == pytest.approx((2 + 2 + 3) / 3, abs=1e-4)
    assert got["top_word_ratio"] == pytest.approx(2 / 3, abs=1e-4)
    assert got["symbol_ratio"] == 0.0


def test_bigram_lm_ordering_and_edges(spark):
    # 'a b' appears constantly in the corpus; 'q z' appears once.
    rows = [(i, "a b a b a b a b") for i in range(8)] + [
        (100, "a b a b a b a b"),   # all high-frequency transitions
        (101, "q z q q z a"),       # rare transitions -> lower score
        (102, "solo"),              # single token -> no bigrams
        (103, ""),                  # empty
    ]
    out = _rows(bigram_lm_scores(spark.createDataFrame(rows, "doc_id long, text string")))
    assert out[100]["lm_logprob"] > out[101]["lm_logprob"]
    assert out[102]["n_bigrams"] == 0 and out[102]["lm_logprob"] is None
    assert out[103]["n_bigrams"] == 0 and out[103]["lm_logprob"] is None
    assert out[100]["n_bigrams"] == 7


def test_bigram_lm_exact_value(spark):
    """Hand-computed check on a 2-doc corpus: vocabulary {x, y},
    unigram counts x=3, y=1; bigram counts (x,x)=1, (x,y)=1."""
    rows = [(0, "x x y"), (1, "x")]
    out = _rows(bigram_lm_scores(spark.createDataFrame(rows, "doc_id long, text string")))
    a = 0.4
    v = 2
    lp_xx = math.log((1 + a) / (3 + a * v))
    lp_xy = math.log((1 + a) / (3 + a * v))
    assert out[0]["lm_logprob"] == pytest.approx(round((lp_xx + lp_xy) / 2, 4), abs=1e-4)
    assert out[0]["n_bigrams"] == 2


def test_bigram_lm_fit_apply_cross_corpus_oov(spark):
    """Fit on a reference corpus, score a target: in-vocabulary targets
    reproduce the self-trained arithmetic; never-seen words take the
    smoothing floor (counts 0) — lower score, oov_words counted, never an
    error or a dropped row; < 2-token docs keep NULL score."""
    from ocr_spark.operators.quality import bigram_lm_apply, fit_bigram_lm

    ref = spark.createDataFrame(
        [(0, "x x y"), (1, "x")], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(10, "x x y"), (11, "x zz y"), (12, "solo"), (13, None)],
        "doc_id long, text string",
    )
    out = _rows(bigram_lm_apply(tgt, fit_bigram_lm(ref)))
    a, v = 0.4, 2
    lp_seen = math.log((1 + a) / (3 + a * v))
    assert out[10]["lm_logprob"] == pytest.approx(round(lp_seen, 4), abs=1e-4)
    assert out[10]["oov_words"] == 0
    # doc 11: bigrams (x,zz) unseen w/ seen w1, (zz,y) unseen w1 -> floor
    lp_x_zz = math.log((0 + a) / (3 + a * v))
    lp_zz_y = math.log((0 + a) / (0 + a * v))
    want = round((lp_x_zz + lp_zz_y) / 2, 4)
    assert out[11]["lm_logprob"] == pytest.approx(want, abs=1e-4)
    assert out[11]["oov_words"] == 1
    assert out[11]["lm_logprob"] < out[10]["lm_logprob"]
    assert out[12]["n_bigrams"] == 0 and out[12]["lm_logprob"] is None
    assert out[13]["n_bigrams"] == 0 and out[13]["lm_logprob"] is None


def test_quality_filter_partitioning_invariance(spark):
    rows = [(i, f"doc {i} " + " ".join(f"w{j}" for j in range(i % 30))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(quality_filter(df).collect(), key=lambda r: r["doc_id"])
    b = sorted(quality_filter(df.repartition(7)).collect(), key=lambda r: r["doc_id"])
    assert a == b


def test_repetition_stats_crafted_values(spark):
    from ocr_spark.operators.quality import repetition_stats

    # doc 0: 4 lines, 'nav menu' twice -> dup_line_frac 2/4 = 0.5;
    #   dup chars = 2*len('nav menu')=16 of 8+8+9+11=36 line chars;
    #   paragraphs: two, both distinct.
    # doc 1: no duplicates at all.
    # doc 2: NULL text -> all-zero row, never dropped.
    # doc 3: 'x y x y x y x y' -> top bigram 'x y' count 4 (overlapping
    #   adjacent pairs: 7 bigrams, 'x y' wins 4 vs 'y x' 3), len 3,
    #   canon len 15 -> 12/15 = 0.8.
    rows = [
        (0, "nav menu\nreal text\nnav  menu\nother line\n\nreal text two"),
        (1, "alpha\nbeta\n\ngamma"),
        (2, None),
        (3, "x y x y x y x y"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # doc 0: 5 lines total (blank separator dropped), 'nav menu' twice
    # after whitespace canonicalization ('nav  menu' == 'nav menu')
    assert out[0]["n_lines"] == 5
    assert out[0]["dup_line_frac"] == pytest.approx(1 / 5, abs=1e-4)
    d0_chars = 8 + 9 + 8 + 10 + 13  # canonicalized line lengths
    assert out[0]["dup_line_char_frac"] == pytest.approx(16 / d0_chars, abs=1e-4)
    assert out[0]["n_paras"] == 2 and out[0]["dup_para_frac"] == 0.0

    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["n_paras"] == 2
    assert not out[1]["repetitive"]

    assert out[2]["n_lines"] == 0 and out[2]["n_paras"] == 0
    assert out[2]["dup_line_frac"] == 0.0 and not out[2]["repetitive"]

    assert out[3]["top_bigram_frac"] == pytest.approx(4 * 3 / 15, abs=1e-4)
    assert out[3]["repetitive"]  # 0.8 > 0.18


def test_repetition_stats_paragraph_dups_and_tie_break(spark):
    from ocr_spark.operators.quality import repetition_stats

    # Identical paragraphs (footer boilerplate) and a bigram count tie:
    # 'b c' and 'a b' both appear twice in 'a b c a b c'; the smaller
    # bigram string 'a b' must win deterministically.
    rows = [
        (0, "footer one\nfooter two\n\nbody text\n\nfooter one\nfooter two"),
        (1, "a b c a b c"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0]["n_paras"] == 3
    assert out[0]["dup_para_frac"] == pytest.approx(1 / 3, abs=1e-4)
    assert out[0]["repetitive"]  # 0.3333 > 0.30
    # tie break: 'a b' (count 2, len 3) over 'b c' (count 2)
    assert out[1]["top_bigram_frac"] == pytest.approx(2 * 3 / 11, abs=1e-4)


def test_pii_redact_counts_and_rewrite(spark):
    import hashlib

    from ocr_spark.operators.pii import pii_redact

    rows = [
        (0, "mail a@b.com and c.d+x@e.org, server 10.0.0.1, call +123456789"),
        (1, "no pii here"),
        (2, None),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in pii_redact(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0]["n_emails"] == 2
    assert out[0]["n_ipv4"] == 1
    assert out[0]["n_phones"] == 1
    assert out[0]["n_pii"] == 4
    expect = "mail <EMAIL> and <EMAIL>, server <IP>, call <PHONE>"
    assert out[0]["red_fp"] == hashlib.md5(expect.encode()).hexdigest()[:16]

    assert out[1]["n_pii"] == 0
    assert out[1]["red_fp"] == hashlib.md5(b"no pii here").hexdigest()[:16]
    # NULL text coalesces to '' and the row survives
    assert out[2]["n_pii"] == 0
    assert out[2]["red_fp"] == hashlib.md5(b"").hexdigest()[:16]


def test_blockword_filter(spark):
    from ocr_spark.operators.quality import blockword_filter

    rows = [
        (0, "clean page text"),
        (1, "contains xbadwordx. attached to punctuation"),
        (2, "XBADWORDX upper and xbannedx twice xbannedx"),
        (3, None),
        (4, "substring notxbadwordxhere must not hit"),
    ]
    out = {
        r.doc_id: r
        for r in blockword_filter(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0].kept and out[0].n_blockwords == 0
    assert not out[1].kept and out[1].n_blockwords == 1
    # distinct blockwords, case-insensitive: xbadwordx + xbannedx = 2
    assert not out[2].kept and out[2].n_blockwords == 2
    assert out[3].kept  # NULL text behaves like empty
    # token-exact: embedded substring is a different token, no hit
    assert out[4].kept and out[4].n_blockwords == 0
