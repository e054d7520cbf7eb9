"""Hashed n-gram linear classifier: scoring semantics + plan shape."""

import math

from pyspark.sql import functions as F

from ocr_spark.operators.classifier import (
    DEFAULT_BIAS,
    classifier_score,
    feature_bucket,
    synthetic_weight,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_every_row_survives_including_null_and_empty(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, ""), (3, None)])
    out = classifier_score(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 2, 3]
    # no features => score is exactly sigmoid(bias)
    base = round(1.0 / (1.0 + math.exp(-DEFAULT_BIAS)), 4)
    assert out[1].n_feats == 0 and out[1].score == base
    assert out[2].n_feats == 0 and out[2].score == base
    # unigrams + bigrams: 3 + 2
    assert out[0].n_feats == 5


def test_hand_computed_score_matches(spark):
    df = _docs(spark, [(1, "aa bb")])
    # replicate: feats = [aa, bb, 'aa bb']
    feats = ["aa", "bb", "aa bb"]
    probe = spark.createDataFrame([(f,) for f in feats], "feat string").select(
        synthetic_weight(feature_bucket(F.col("feat"), 1 << 18, "qclf-1")).alias("w")
    )
    mean_w = sum(r.w for r in probe.collect()) / len(feats)
    want = round(1.0 / (1.0 + math.exp(-(mean_w + DEFAULT_BIAS))), 4)
    got = classifier_score(df).collect()[0]
    assert got.score == want and got.n_feats == 3
    assert got.kept == (want >= 0.5)


def test_score_plan_no_python_map_side_combine(spark):
    df = _docs(spark, [(1, "a b c")])
    plan = classifier_score(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan  # the synthetic weights are an expression
    # partial aggregation before the exchange (map-side combine)
    assert "partial_count" in plan
