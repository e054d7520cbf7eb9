"""Duplicated-span detection (operators/spans.py): crafted corpora with
known duplicated regions, interval-merge semantics, and the never-drop
per-doc contract. Oracle parity at sf0.01 runs in test_oracle_parity.py."""

from pyspark.sql import functions as F

from ocr_spark.operators.spans import SPAN_W, dup_span_stats, dup_spans

W = SPAN_W  # 8


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def words(n, prefix="w"):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_shared_block_found_in_both_docs(spark):
    shared = words(12, "dup")  # 12 shared words -> 5 dup grams in each doc
    d = _docs(spark, [
        (1, words(10, "a") + " " + shared + " " + words(10, "b")),
        (2, words(10, "c") + " " + shared + " " + words(10, "d")),
        (3, words(40, "u")),  # unique doc: zero dup spans, still a row
    ])
    out = {r["doc_id"]: r for r in dup_span_stats(d).collect()}
    assert set(out) == {1, 2, 3}
    # the shared block is exactly 12 words at offset 10 in both docs
    for i in (1, 2):
        assert out[i]["n_dup_spans"] == 1
        assert out[i]["dup_words"] == 12
        assert out[i]["n_words"] == 32
        assert out[i]["dup_frac"] == round(12 / 32, 4)
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_words"] == 0
    spans = {r["id"]: r for r in dup_spans(d).collect() if r["id"] == 1}
    assert spans[1]["start_pos"] == 10 and spans[1]["end_pos"] == 21


def test_touching_gram_intervals_merge_without_double_count(spark):
    # two shared blocks separated by ONE differing word: gram intervals
    # from the two blocks never overlap, but each block is >= w so both
    # are found; the single-word gap keeps them separate spans only if
    # the gram gap exceeds w
    blk_a, blk_b = words(W, "x"), words(W, "y")
    d = _docs(spark, [
        (1, blk_a + " gap1 " + blk_b),
        (2, blk_a + " gap2 " + blk_b),
    ])
    out = {r["doc_id"]: r for r in dup_span_stats(d).collect()}
    # each doc: dup grams at pos 0 (block a) and pos w+1 (block b);
    # gap = w+1 > w -> two spans, 2w dup words, never 2w+1
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["dup_words"] == 2 * W
    assert out[1]["n_words"] == 2 * W + 1


def test_overlapping_shared_windows_count_words_once(spark):
    # a long shared run produces many overlapping dup grams; dup_words
    # must equal the run length, not grams * w
    shared = words(3 * W, "s")
    d = _docs(spark, [(1, shared), (2, shared + " tail_only_here " + words(W, "t"))])
    out = {r["doc_id"]: r for r in dup_span_stats(d).collect()}
    assert out[1]["dup_words"] == 3 * W
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["dup_words"] == 3 * W


def test_null_and_short_texts_never_dropped(spark):
    d = _docs(spark, [
        (1, None),
        (2, ""),
        (3, "too short for any gram"),
        (4, words(2 * W, "z")),
        (5, words(2 * W, "z")),
    ])
    out = {r["doc_id"]: r for r in dup_span_stats(d).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["n_words"] == 0 and out[1]["dup_frac"] == 0.0
    assert out[2]["n_words"] == 0
    assert out[3]["n_dup_spans"] == 0
    assert out[4]["dup_words"] == 2 * W and out[5]["dup_words"] == 2 * W


def test_min_df_respected_within_single_doc_repeat(spark):
    # a block repeated twice INSIDE one doc but in no other doc is not a
    # cross-document duplicate (count(DISTINCT doc) = 1 < min_df)
    blk = words(W, "r")
    d = _docs(spark, [
        (1, blk + " mid_unique_token " + blk),
        (2, words(3 * W, "other")),
    ])
    out = {r["doc_id"]: r for r in dup_span_stats(d).collect()}
    assert out[1]["n_dup_spans"] == 0 and out[1]["dup_words"] == 0


def test_plan_has_no_python_nodes(spark):
    import contextlib
    import io

    d = _docs(spark, [(1, words(20, "a"))])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dup_span_stats(d).explain("formatted")
    plan = buf.getvalue()
    # (createDataFrame's applySchemaToPythonRDD source node is test scaffolding,
    # not an execution-path Python node)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_removal_keeps_exactly_one_corpus_copy(spark):
    from ocr_spark.operators.spans import remove_dup_spans

    shared = words(2 * W, "dup")
    d = _docs(spark, [
        (1, words(5, "a") + " " + shared),
        (2, words(5, "b") + " " + shared),
        (3, shared + " " + words(5, "c")),
    ])
    out = {r["doc_id"]: r for r in remove_dup_spans(d).collect()}
    # doc 1 is the min id containing every shared gram -> owns, keeps all
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"].endswith(shared)
    # docs 2 and 3 lose the shared block, keep their unique words
    assert out[2]["n_removed"] == 2 * W
    assert out[2]["clean_text"] == words(5, "b")
    assert out[3]["clean_text"] == words(5, "c")
    # exactly one copy of the shared text survives corpus-wide
    survivors = sum(shared in r["clean_text"] for r in out.values())
    assert survivors == 1


def test_removal_null_and_unique_docs_untouched(spark):
    from ocr_spark.operators.spans import remove_dup_spans

    d = _docs(spark, [
        (1, None),
        (2, words(3 * W, "u")),
    ])
    out = {r["doc_id"]: r for r in remove_dup_spans(d).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 0
    assert out[1]["n_words"] == 0
    assert out[2]["clean_text"] == words(3 * W, "u")
    assert out[2]["n_removed"] == 0


def test_removal_is_idempotent_on_its_own_output(spark):
    from ocr_spark.operators.spans import remove_dup_spans

    shared = words(2 * W, "s")
    d = _docs(spark, [
        (1, shared + " " + words(6, "x")),
        (2, shared + " " + words(6, "y")),
        (3, words(4, "z") + " " + shared),
    ])
    first = remove_dup_spans(d).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    second = {r["doc_id"]: r for r in remove_dup_spans(first).collect()}
    assert all(r["n_removed"] == 0 for r in second.values())


def test_decontaminate_spans_excises_benchmark_only(spark):
    """A corpus doc quoting a benchmark item loses exactly the quoted
    region (plus the <w fringe by gram granularity); clean docs and the
    rest of the contaminated doc survive verbatim; no ownership
    exemption — the bench text vanishes from every doc containing it."""
    from ocr_spark.operators.spans import decontaminate_spans

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (0, f"intro words here {bench_text} outro words conclude nicely"),
        (1, "a fully clean document with no benchmark overlap at all ok"),
        (2, bench_text),                      # pure benchmark copy -> empty
        (3, None),                            # NULL text survives as empty
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    out = {r.doc_id: r for r in decontaminate_spans(corpus, bench).collect()}
    assert len(out) == 4
    assert out[0].clean_text == "intro words here outro words conclude nicely"
    assert out[0].n_removed == 8
    assert out[1].n_removed == 0 and "fully clean" in out[1].clean_text
    assert out[2].clean_text == "" and out[2].n_removed == 8
    assert out[3].clean_text == "" and out[3].n_words == 0


def test_decontaminate_spans_merges_touching_windows(spark):
    """Two overlapping benchmark grams union into one excision interval
    (no double counting)."""
    from ocr_spark.operators.spans import decontaminate_spans

    bench = "one two three four five six seven eight nine ten"  # 10 words
    corpus = spark.createDataFrame(
        [(0, f"head {bench} tail")], "doc_id long, text string"
    )
    b = spark.createDataFrame([(bench,)], "text string")
    r = decontaminate_spans(corpus, b).collect()[0]
    assert r.clean_text == "head tail" and r.n_removed == 10
