"""Round-4 additions: guaranteed heavy hitters (Misra-Gries two-pass) and
the per-language tokenizer fertility audit — unit contracts + plan pins."""

import pyspark.sql.functions as F

from ocr_spark.functions.text import canonical_words
from ocr_spark.operators import heavyhitters as hh
from ocr_spark.operators.heavyhitters import heavy_hitters, mg_candidates
from ocr_spark.operators.tokenizer import fertility_by_lang


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- heavy hitters ------------------------------------------------------------


def _adversarial_corpus(spark, n_docs: int = 400, n_parts: int = 8):
    """A vocabulary far wider than the counter budget, with heavies whose
    shares straddle the threshold: per doc ~3 distinct rare tokens (unique
    to the doc — pure churn), 'hot' x3, 'warm' x1, and a mid token shared
    by doc%5. Exact shares are asserted against brute force, not guessed."""
    return spark.range(0, n_docs).repartition(n_parts).select(
        F.concat(
            F.lit("hot hot hot warm mid"),
            (F.col("id") % 5).cast("string"),
            F.lit(" r"),
            F.col("id").cast("string"),
            F.lit("a r"),
            F.col("id").cast("string"),
            F.lit("b r"),
            F.col("id").cast("string"),
            F.lit("c"),
        ).alias("text")
    )


def _brute_force(df, m):
    toks = df.select(F.explode(canonical_words("text")).alias("token"))
    total = toks.count()
    pdf = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") * (m + 1) > total)
        .toPandas()
    )
    return {(r.token, r.freq) for r in pdf.itertuples()}, total


def test_mg_candidates_superset_and_bounded(spark, monkeypatch):
    """The summary union must contain every token above the global
    threshold (the MG guarantee) while staying small: <= m rows per input
    partition, despite a vocabulary ~150x the counter budget."""
    m = 8
    monkeypatch.setattr(hh, "HH_M", m)
    docs = _adversarial_corpus(spark)
    toks = docs.select(canonical_words("text").alias("toks"))
    cand = set(r.token for r in mg_candidates(toks).collect())
    exact, total = _brute_force(docs, m)
    qualifying = {t for t, _ in exact}
    assert qualifying  # non-vacuous: something actually qualifies
    assert qualifying <= cand
    n_parts = toks.rdd.getNumPartitions()
    assert len(cand) <= m * n_parts
    # non-vacuous eviction: the vocabulary is far wider than the budget
    distinct = docs.select(F.explode(canonical_words("text"))).distinct().count()
    assert distinct > m * n_parts


def test_heavy_hitters_equals_exact_answer(spark, monkeypatch):
    """End-to-end: the bounded-memory two-pass result IS the exact SQL
    answer — same tokens, same exact counts."""
    m = 8
    monkeypatch.setattr(hh, "HH_M", m)
    docs = _adversarial_corpus(spark)
    got = heavy_hitters(docs).collect()
    exact, total = _brute_force(docs, m)
    assert {(r.token, r.freq) for r in got} == exact
    assert all(r.n_total == total for r in got)
    # descending-count order with token tiebreak
    keys = [(-r.freq, r.token) for r in got]
    assert keys == sorted(keys)


def test_heavy_hitters_threshold_is_strict(spark, monkeypatch):
    """freq*(m+1) > n_total is strict: a token at EXACTLY n_total/(m+1)
    does not qualify. 4 tokens x 25 each = 100 total, m=3 -> threshold
    25; nothing qualifies."""
    docs = spark.createDataFrame(
        [(" ".join(w for w in ("a", "b", "c", "d") for _ in range(25)),)],
        "text string",
    )
    monkeypatch.setattr(hh, "HH_M", 3)
    assert heavy_hitters(docs).count() == 0


def test_heavy_hitters_recount_shuffle_is_candidate_gated(spark, monkeypatch):
    """Plan pin: the exact recount joins the BROADCAST candidate set
    before the count aggregation, so the shuffle carries only candidate
    rows — the answer's size, not the corpus's."""
    monkeypatch.setattr(hh, "HH_M", 8)
    plan = _plan(heavy_hitters(_adversarial_corpus(spark)))
    assert "BroadcastHashJoin" in plan
    # Python appears once: the bounded-memory summary pass
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1


# --- tokenizer fertility ------------------------------------------------------


_WORD_MAP = {"the": "the", "tokenizer": "token izer", "splits": "spl its"}


def test_fertility_by_lang_arithmetic(spark):
    """Hand-checked totals: fertility counts every emitted token
    (multi-token words count per piece, unknown words count 1 as <unk>),
    bytes are octet lengths (multibyte text exercises bytes != chars)."""
    docs = spark.createDataFrame(
        [
            (0, "the tokenizer splits", "en"),   # 3 words -> 1+2+2 tokens
            (1, "the zz", "en"),                  # 2 words -> 1 + <unk>
            (2, "café", "fr"),               # 1 word -> <unk>; 5 bytes
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in fertility_by_lang(docs, _WORD_MAP).collect()}
    en, fr = out["en"], out["fr"]
    assert (en.n_docs, en.n_words, en.n_tokens, en.n_unk) == (2, 5, 7, 1)
    assert en.fertility == round(7 / 5, 4)
    assert en.unk_rate == round(1 / 7, 4)
    assert en.n_bytes == len("the tokenizer splits".encode()) + len(
        "the zz".encode()
    )
    assert (fr.n_words, fr.n_tokens, fr.n_unk, fr.n_bytes) == (1, 1, 1, 5)
    assert fr.bytes_per_token == 5.0


def test_fertility_zero_word_group_reports_zero_ratios(spark):
    """A language whose docs have no words (empty/NULL text) must report
    0.0 ratios, never NULL/NaN — the never-drop convention."""
    docs = spark.createDataFrame(
        [(0, "", "xx"), (1, None, "xx")], "doc_id long, text string, lang string"
    )
    row = fertility_by_lang(docs, _WORD_MAP).collect()[0]
    assert (row.lang, row.n_docs, row.n_words, row.n_tokens) == ("xx", 2, 0, 0)
    assert (row.fertility, row.bytes_per_token, row.unk_rate) == (0.0, 0.0, 0.0)


def test_fertility_is_one_scan_no_python(spark):
    """Plan pin: encode + rollup is a single scan into one hash
    aggregation — no join back to the source, no Python in the plan."""
    docs = spark.createDataFrame(
        [(0, "the tokenizer", "en")], "doc_id long, text string, lang string"
    )
    plan = _plan(fertility_by_lang(docs, _WORD_MAP))
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final on lang
