"""Hashed n-gram linear quality classifier (fastText-style scoring).

The modern corpus-quality gate is a learned linear classifier over hashed
token n-grams (fastText architecture): FineWeb-Edu, DCLM, and the CCNet
lineage all filter or bucket documents by such a score. This operator is
the SERVING side of that design, Spark-first:

    tokens -> unigram+bigram features -> feature-hash bucket (portable
    md5-derived, the engine's replayable hash family) -> weight lookup ->
    mean + bias -> sigmoid score -> keep/drop.

The weights are a seeded SYNTHETIC model — weight(bucket) is a pure md5
expression of the bucket id in [-0.5, 0.5) — so tests and the DuckDB twin
replay scoring end-to-end without shipping a model artifact.

Scale shape: one explode (feature stream, (id, long) rows), no join, one
hash aggregation back to documents. No Python, no windows, no driver state. At 100 TB the
explode dominates and is embarrassingly parallel; the aggregate is the
same map-side-combine groupBy every token op in this engine uses.

Determinism/oracle contract: tokens = shared TOKEN_PATTERN over
lower(text); features = unigrams ++ adjacent bigrams joined with one
space; bucket = first-32-bits-of-md5(seed || ':' || feat) mod n_buckets;
score = round(sigmoid(mean_weight + bias), 4) with the ROUNDED value used
for the keep test (both engines compare identical 4-dp values). NULL text
=> zero features => score = round(sigmoid(bias), 4) — the row is kept in
the output either way (P7 discipline: never silently dropped).

Reference analog: the per-field confidence gate over recognition output
(one_key_process.py:576-607 keeps/empties fields by model confidence);
here the confidence model is explicit and corpus-scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_long, word_tokens

DEFAULT_N_BUCKETS = 1 << 18
CLF_SEED = "qclf-1"  # feature hashing and the synthetic weights share it
# bias 0 keeps the synthetic model CALIBRATED: mean hashed weight is ~0 by
# construction, so the default gate splits on its sign instead of dropping
# (or keeping) everything — the non-vacuity discipline every gate in this
# engine follows.
DEFAULT_BIAS = 0.0
DEFAULT_THRESHOLD = 0.5


def feature_bucket(feat: Column, n_buckets: int, seed: str) -> Column:
    return F.pmod(md5_prefix_long(F.concat(F.lit(seed + ":"), feat), 8), F.lit(n_buckets))


def synthetic_weight(bucket: Column) -> Column:
    """Pure-expression model: weight(bucket) in [-0.5, 0.5), uniform-ish,
    deterministic, replayable in SQL, seeded with ``CLF_SEED``."""
    h = md5_prefix_long(F.concat(F.lit(CLF_SEED + ":w:"), bucket.cast("string")), 8)
    return (h % 10000).cast("double") / 10000.0 - 0.5


def hashed_feature_stream(
    df: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    seed: str = CLF_SEED,
) -> DataFrame:
    """(doc_id, bucket) rows: the unigram+adjacent-bigram hashed feature
    stream shared by the classifier gate and the DSIR importance weights.
    ``explode_outer`` keeps empty/NULL-text documents as one NULL-bucket
    row, so no document ever vanishes from a downstream aggregate."""
    toks = word_tokens(F.coalesce(F.col("text"), F.lit("")))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return df.select(
        F.col("doc_id"),
        F.explode_outer(F.concat(toks, bigrams)).alias("feat"),
    ).select(
        "doc_id",
        F.when(
            F.col("feat").isNotNull(),
            feature_bucket(F.col("feat"), n_buckets, seed),
        ).alias("bucket"),
    )


def classifier_score(df: DataFrame) -> DataFrame:
    """(doc_id, n_feats, score, kept): sigmoid(mean hashed-feature weight
    + DEFAULT_BIAS) per document. Every input row produces exactly one output row."""
    weighted = hashed_feature_stream(df).select(
        "doc_id",
        "bucket",
        F.when(
            F.col("bucket").isNotNull(), synthetic_weight(F.col("bucket"))
        ).alias("weight"),
    )

    agg = weighted.groupBy("doc_id").agg(
        F.count("bucket").alias("n_feats"),
        F.coalesce(F.sum("weight"), F.lit(0.0)).alias("w_sum"),
    )
    mean_w = F.when(
        F.col("n_feats") > 0, F.col("w_sum") / F.col("n_feats")
    ).otherwise(F.lit(0.0))
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(mean_w + F.lit(DEFAULT_BIAS)))), 4
    )
    return agg.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        score.alias("score"),
        (score >= DEFAULT_THRESHOLD).alias("kept"),
    )
