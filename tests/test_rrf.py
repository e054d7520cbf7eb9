"""Reciprocal-rank fusion, query expansion, more-like-this and snippets."""

from ocr_spark.operators import index
from ocr_spark.operators.index import RRF_K, rrf_fuse


def _ranked(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, rank int")


def test_rrf_doc_in_both_lists_beats_single_list_winners(spark):
    a = _ranked(spark, [(1, 1), (2, 2), (3, 3)])
    b = _ranked(spark, [(3, 1), (4, 2)])
    out = rrf_fuse([a, b]).collect()
    assert out[0]["doc_id"] == 3  # rank 3 + rank 1 beats any single list
    scores = {r["doc_id"]: r["rrf_score"] for r in out}
    assert scores[3] == round(1 / (RRF_K + 3) + 1 / (RRF_K + 1), 6)
    assert scores[1] == round(1 / (RRF_K + 1), 6)


def test_rrf_tie_breaks_by_id(spark):
    a = _ranked(spark, [(7, 1), (5, 2)])
    b = _ranked(spark, [(5, 1), (7, 2)])
    out = rrf_fuse([a, b]).collect()
    # identical fused scores: lower id first
    assert [r["doc_id"] for r in out] == [5, 7]
    assert [r["fused_rank"] for r in out] == [1, 2]


def test_rrf_topk_bound(spark, monkeypatch):
    monkeypatch.setattr(index, "RRF_TOPK", 5)
    a = _ranked(spark, [(i, i) for i in range(1, 30)])
    out = rrf_fuse([a]).collect()
    assert len(out) == 5 and [r["fused_rank"] for r in out] == [1, 2, 3, 4, 5]


def test_more_like_this_ranks_shared_vocab_docs(spark):
    from ocr_spark.operators.tfidf import more_like_this

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana cherry"),       # identical -> cosine 1.0
            (3, "apple banana pear"),          # 2 of 3 shared
            (4, "apple kiwi lime"),            # 1 of 3 shared
            (5, "wolf fox bear"),              # disjoint -> absent
        ],
        "doc_id long, text string",
    )
    out = more_like_this(docs).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[:3] == [2, 3, 4]
    assert out[0]["cosine"] == 1.0
    assert 5 not in ids
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_expansion_terms_prefers_feedback_cooccurring_terms(spark, monkeypatch):
    from ocr_spark.operators.index import expansion_terms

    docs = spark.createDataFrame(
        [
            # docs matching 'query' share the marker term 'cooc'
            (1, "query cooc filler1"),
            (2, "query cooc filler2"),
            (3, "query cooc filler3"),
            # background corpus: 'common' is everywhere (low idf)
            (4, "common noise alpha"),
            (5, "common noise beta"),
            (6, "common noise gamma"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(index, "SEARCH_TERMS", ("query",))
    monkeypatch.setattr(index, "BM25_TOPK", 3)
    monkeypatch.setattr(index, "EXPANSION_K_TERMS", 3)
    out = expansion_terms(docs).collect()
    assert out[0]["term"] == "cooc" and out[0]["rank"] == 1
    terms = {r["term"] for r in out}
    assert "query" not in terms          # seed excluded
    assert "the" not in terms            # stopwords excluded
    assert "common" not in terms         # not in the feedback docs


def test_snippets_densest_window_and_tiebreak(spark, monkeypatch):
    from ocr_spark.operators.index import snippets

    filler = " ".join(f"f{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            # window 0: one hit; window 2: two hits -> window 2 wins
            (1, "alpha " + " ".join(f"x{i}" for i in range(19))
                + " " + filler + " alpha beta " + " ".join(f"y{i}" for i in range(18))),
            # two windows with one hit each -> earliest wins
            (2, "beta " + " ".join(f"z{i}" for i in range(19)) + " beta"),
            (3, "no hits at all"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(index, "SEARCH_TERMS", ("alpha", "beta"))
    out = {r["doc_id"]: r for r in snippets(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["start"] == 40 and out[1]["n_hits"] == 2
    assert out[1]["snippet"].startswith("alpha beta")
    assert out[2]["start"] == 0 and out[2]["n_hits"] == 1
    assert out[2]["snippet"].split()[0] == "beta"


def test_snippets_straddling_run_scores_whole(spark, monkeypatch):
    """ADVICE r4 index.py item: two adjacent hits at positions 19 and 20
    straddle the aligned window boundary; the half-offset grid's [10,30)
    span must score them together (n_hits=2), not as two 1-hit windows."""
    from ocr_spark.operators.index import snippets

    words = [f"w{i}" for i in range(40)]
    words[19] = "alpha"
    words[20] = "alpha"
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    monkeypatch.setattr(index, "SEARCH_TERMS", ("alpha",))
    out = snippets(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hits"] == 2 and r["start"] == 10
    toks = r["snippet"].split()
    assert toks[9] == "alpha" and toks[10] == "alpha" and len(toks) == 20


def test_snippets_dominate_aligned_windows_property(spark, monkeypatch):
    """Property over a batch of constructed docs: the reported span's hit
    count is >= every aligned window's hit count (the half-offset grid
    can only improve on the old aligned-only scoring), and n_hits equals
    the true hit count inside [start, start+window)."""
    import random

    rng = random.Random(7)
    rows = []
    for did in range(30):
        n = rng.randint(5, 90)
        words = [f"w{rng.randint(0, 30)}" for _ in range(n)]
        for _ in range(rng.randint(1, 6)):
            words[rng.randrange(n)] = "hit"
        rows.append((did, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from ocr_spark.operators.index import SNIPPET_WINDOW, snippets

    monkeypatch.setattr(index, "SEARCH_TERMS", ("hit",))
    out = {r["doc_id"]: r for r in snippets(docs).collect()}
    w = SNIPPET_WINDOW
    for did, text in rows:
        toks = text.split()
        positions = [i for i, t in enumerate(toks) if t == "hit"]
        assert did in out  # every doc with a hit gets a snippet
        r = out[did]
        true_in_span = sum(1 for p in positions if r["start"] <= p < r["start"] + w)
        assert r["n_hits"] == true_in_span, (did, r)
        best_aligned = max(
            sum(1 for p in positions if a <= p < a + w)
            for a in range(0, len(toks), w)
        )
        assert r["n_hits"] >= best_aligned, (did, r, best_aligned)
