"""Behavioral tests for character-class text profiling
(textprofile.script_stats / code_detect) on crafted rows where the right
answer is known by construction; exact cross-engine parity runs in
test_oracle_parity (script_stats / code_detect)."""

from ocr_spark.operators import textprofile
from ocr_spark.operators.textprofile import code_detect, script_stats


def test_script_stats_mix_and_dominance(spark):
    rows = [
        (0, "plain ascii words only"),
        (1, "привет мир"),                 # pure Cyrillic
        (2, "数据处理"),                    # pure CJK
        (3, "hello мир"),                  # latin 5 vs cyrillic 3 -> latin
        (4, None),                          # NULL -> all zero, 'other'
        (5, "!!! 123 ???"),                 # no letters -> 'other'
    ]
    out = {
        r.doc_id: r
        for r in script_stats(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert len(out) == 6                    # never-drop
    assert out[0].dominant_script == "latin" and out[0].latin_frac == 1.0
    assert out[1].dominant_script == "cyrillic" and out[1].cyrillic_frac == 1.0
    assert out[2].dominant_script == "cjk" and out[2].cjk_frac == 1.0
    assert out[3].dominant_script == "latin"
    assert 0 < out[3].cyrillic_frac < out[3].latin_frac
    assert out[4].n_chars == 0 and out[4].dominant_script == "other"
    assert out[5].dominant_script == "other" and out[5].latin_frac == 0.0


def test_script_stats_tie_breaks_by_order(spark):
    # 3 latin vs 3 cyrillic letters: SCRIPT_ORDER lists latin first
    df = spark.createDataFrame([(0, "abc мир")], "doc_id long, text string")
    assert script_stats(df).collect()[0].dominant_script == "latin"


def test_code_detect_clauses(spark):
    rows = [
        (0, "ordinary prose with no programming content at all"),
        # keyword + indent clause
        (1, "intro text\ndef main():\n    return 1"),
        # one keyword, no indent: must NOT trigger
        (2, "the var keyword alone in prose"),
        # symbol clause: dense JSON, zero keywords
        (3, '{"a": [1, 2], "b": {"c": 3}}'),
        # indent without keywords: must NOT trigger
        (4, "poem\n    indented verse line\n    another"),
        (5, None),
    ]
    out = {
        r.doc_id: r
        for r in code_detect(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert len(out) == 6
    assert not out[0].is_code and out[0].kw_hits == 0
    assert out[1].is_code and out[1].kw_hits == 2 and out[1].indent_lines == 1
    assert not out[2].is_code and out[2].kw_hits == 1
    assert out[3].is_code and out[3].kw_hits == 0
    assert out[3].sym_ratio >= 0.08
    assert not out[4].is_code and out[4].indent_lines == 2
    assert not out[5].is_code and out[5].n_chars == 0


def test_token_exact_keywords_no_substring_hits(spark):
    # 'classic' and 'deft' contain keywords as substrings; token-exact
    # matching must not count them
    df = spark.createDataFrame(
        [(0, "classic deft importer\n    indented")], "doc_id long, text string"
    )
    r = code_detect(df).collect()[0]
    assert r.kw_hits == 0 and not r.is_code


def test_vocab_growth_construction_truth(spark, monkeypatch):
    """Known tiny corpus: checkpoints count types by FIRST occurrence and
    tokens by strict document prefix."""
    from ocr_spark.operators.textprofile import vocab_growth

    docs = spark.createDataFrame(
        [
            (0, "a b c"),          # 3 tokens, 3 new types
            (1, "a b d d"),        # 4 tokens, 1 new type (d)
            (2, "e"),              # 1 token, 1 new type
            (3, None),             # NULL text: 0 tokens, never dropped
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(textprofile, "VOCAB_CHECKPOINTS", [1, 2, 4, 8])
    out = {r["n_docs"]: r for r in vocab_growth(docs).collect()}
    assert (out[1]["n_tokens"], out[1]["vocab_size"]) == (3, 3)
    assert (out[2]["n_tokens"], out[2]["vocab_size"]) == (7, 4)
    assert (out[4]["n_tokens"], out[4]["vocab_size"]) == (8, 5)
    assert out[8]["n_tokens"] == 8 and out[8]["vocab_size"] == 5  # saturated
    assert out[2]["type_token_ratio"] == round(4 / 7, 4)


def test_vocab_growth_plan_no_python_broadcast_checkpoints(spark):
    """Plan discipline: no Python in the plan, checkpoints arrive via
    broadcast joins, and the only Sort is the final 5-row checkpoint
    ordering, never a corpus-wide sort."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.textprofile import vocab_growth

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 37)).alias("text"),
    )
    plan = (
        vocab_growth(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_vocab_growth_monotone_property(spark, monkeypatch):
    """Property: both cumulative counts are non-decreasing in n_docs and
    vocab_size never exceeds n_tokens."""
    import pyspark.sql.functions as F

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha tok"), (F.col("id") % 61),
            F.lit(" beta tok"), (F.col("id") % 13),
        ).alias("text"),
    )
    from ocr_spark.operators.textprofile import vocab_growth

    monkeypatch.setattr(textprofile, "VOCAB_CHECKPOINTS", [1, 4, 16, 64, 256, 1024])
    rows = vocab_growth(docs).collect()
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_tokens"] >= prev["n_tokens"]
        assert cur["vocab_size"] >= prev["vocab_size"]
    assert all(r["vocab_size"] <= max(r["n_tokens"], 1) for r in rows)
