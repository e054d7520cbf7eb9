"""Crafted-truth tests for deterministic sampling and decontamination."""

from pyspark.sql import functions as F

from ocr_spark.operators.dedup import contamination_check
from ocr_spark.operators.sampling import stratified_sample


def _docs(spark, n=2000):
    rows = [(i, f"text {i}", ["en", "zh", "de"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_stratified_rates(spark):
    d = _docs(spark, 3000)
    out = stratified_sample(d, {"en": 0.5, "zh": 0.25})
    frac = {
        r.lang: r.n / 1000
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.4 < frac["en"] < 0.6
    assert 0.17 < frac["zh"] < 0.33
    assert 0.05 < frac.get("de", 0) < 0.15   # STRATIFIED_DEFAULT_RATE = 0.1


def test_contamination_finds_verbatim_and_embedded_copies(spark):
    bench_text = ("the secret benchmark answer sequence alpha bravo charlie "
                  "delta echo foxtrot golf hotel")
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (10, bench_text),                                   # verbatim copy
            (11, "prefix words here " + bench_text + " suffix words"),  # embedded
            (12, "completely unrelated text with plenty of words that never "
                 "overlap the benchmark eight gram at all in any window"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_check(corpus, bench).collect()}
    assert 10 in out and 11 in out and 12 not in out
    assert out[10].n_bench_docs == 1
    assert out[11].n_matched_grams >= out[10].n_matched_grams  # superstring


def test_contamination_common_gram_cap(spark):
    """A gram present in many benchmark docs is not contamination evidence
    and must be dropped before the join (CONTAM_MAX_DF)."""
    from ocr_spark.operators.dedup import CONTAM_MAX_DF

    common = "one two three four five six seven eight"
    bench = spark.createDataFrame(
        [(i, common) for i in range(CONTAM_MAX_DF + 1)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame([(100, common)], "doc_id long, text string")
    out = contamination_check(corpus, bench).collect()
    assert out == []


def test_leakage_safe_split_group_atomic(spark, monkeypatch):
    """Every group lands wholly in one split; the split is a deterministic
    function of the group key (rerun-identical), and eval_frac growth only
    moves whole groups train -> eval (nested, never reshuffled)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators import sampling
    from ocr_spark.operators.sampling import leakage_safe_split

    rows = [(i, f"host{i % 37}.org") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, host string").repartition(7)

    monkeypatch.setattr(sampling, "LEAKAGE_EVAL_FRAC", 0.2)
    out = leakage_safe_split(df)
    per_group = out.groupBy("host").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.where(F.col("n_splits") > 1).count() == 0

    again = {r["doc_id"]: r["split"]
             for r in leakage_safe_split(df).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again

    monkeypatch.setattr(sampling, "LEAKAGE_EVAL_FRAC", 0.5)
    wider = {r["doc_id"]: r["split"]
             for r in leakage_safe_split(df).collect()}
    for doc, split in first.items():
        if split == "eval":
            assert wider[doc] == "eval"  # nested: eval only ever grows


def test_leakage_safe_split_zero_shuffle_plan(spark):
    from ocr_spark.operators.sampling import leakage_safe_split

    df = spark.createDataFrame(
        [(1, "a.org"), (2, "b.org")], "doc_id long, host string"
    )
    plan = leakage_safe_split(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
