"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published method for selecting pretraining data that *matches a target
distribution* (e.g. Wikipedia/books-like text) out of a raw crawl: fit two
bag-of-hashed-ngram distributions — target and raw — and weight every raw
document by its hashed-ngram log-likelihood ratio, then sample without
replacement proportionally to the weights (Gumbel-top-k). Complements the
classifier gate (operators/classifier.py): the classifier scores *absolute*
quality with a trained model, DSIR needs only an in-corpus target SAMPLE.

Spark shape (all expression-level, no Python):

  feature stream   (id, bucket) — the classifier's shared unigram+bigram
                   md5 hashed stream (classifier.hashed_feature_stream)
  count tables     groupBy(bucket) on raw and target streams — at most
                   ``DSIR_N_BUCKETS`` rows each (512): broadcast class
  log-ratio table  raw LEFT JOIN target on bucket + two broadcast 1-row
                   totals; Laplace-smoothed ln(p_tgt(b)) - ln(p_raw(b))
  doc weights      feature stream ⋈ broadcast(ratio) -> groupBy(id) sum
  resample         Gumbel-top-k: key = log_weight + Gumbel(md5-uniform(id)),
                   global top-k via orderBy+limit (TakeOrderedAndProject —
                   per-partition heads, no single-partition sort)

100 TB verdict: the one-shot ``dsir_sample`` scans the corpus feature
stream twice — once to fit the raw bucket counts, once to apply the
weights — each time as (id, long) rows with map-side-combined aggregates;
every join against it is a broadcast of a DSIR_N_BUCKETS-bounded table. The
deploy path is the fit/apply split: ``dsir_log_ratios`` once (target-
distribution state, not per-batch work), persist the tiny table, then
``dsir_apply`` per ingest batch = ONE scan of that batch. The target
sample is small by definition (it's a human-curated exemplar set).

Determinism/oracle: md5 bucket hashing, md5-uniform Gumbel noise, ln on
IEEE doubles, weights rounded to 4 dp BEFORE the top-k ordering with id as
tie-break — so DuckDB replays selection exactly (twin:
``__spark_entry__._dsir_oracle``).

Reference analog: the rule-table-driven choice of which regions carry
signal (one_key_process.py:1146-1165) — here the "rule table" is estimated
from a target exemplar corpus instead of hand-written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_long
from .classifier import hashed_feature_stream

# DSIR_N_BUCKETS and DSIR_K are read at call time: tests set smaller ones
DSIR_N_BUCKETS = 512
DSIR_K = 50          # documents dsir_sample / dsir_apply select
DSIR_ALPHA = 0.5     # Laplace smoothing mass per bucket
DSIR_SEED = "dsir-1"  # feature-hash and Gumbel-noise seed
_GUMBEL_RES = 1_000_000


def dsir_log_ratios(raw: DataFrame, target: DataFrame) -> DataFrame:
    """(bucket, log_ratio): ln(p_target(b)) - ln(p_raw(b)) over the hashed
    feature space, Laplace-smoothed so buckets unseen in the target still
    get finite mass. At most ``DSIR_N_BUCKETS`` rows — the broadcast side of
    every downstream join. Buckets absent from the RAW stream are omitted:
    no raw document can reference them, so they can never be looked up."""
    n_buckets = DSIR_N_BUCKETS
    raw_feats = hashed_feature_stream(raw, n_buckets, DSIR_SEED)
    tgt_feats = hashed_feature_stream(target, n_buckets, DSIR_SEED)
    raw_counts = (
        raw_feats.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_raw"))
    )
    tgt_counts = (
        tgt_feats.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    raw_tot = raw_counts.agg(F.sum("c_raw").alias("t_raw"))
    tgt_tot = tgt_counts.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tgt"))
    return (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(DSIR_ALPHA))
                    / (F.col("t_tgt") + F.lit(DSIR_ALPHA * n_buckets))
                )
                - F.log(
                    (F.col("c_raw") + F.lit(DSIR_ALPHA))
                    / (F.col("t_raw") + F.lit(DSIR_ALPHA * n_buckets))
                )
            ).alias("log_ratio"),
        )
    )


def dsir_apply(raw: DataFrame, ratios: DataFrame) -> DataFrame:
    """The APPLY half of DSIR against an already-fitted log-ratio table —
    the deploy-scale entry point: fit ``dsir_log_ratios`` once (it is
    target-distribution state, not per-batch work), persist the at-most-
    ``DSIR_N_BUCKETS``-row table, and resample every ingest batch
    (``DSIR_K`` documents) with a SINGLE
    scan of that batch's feature stream (the one-shot ``dsir_sample``
    scans its corpus twice: once to fit raw counts, once here). Same
    frozen-artifact pattern as similarity.ivf_assign. ``ratios`` must
    carry (bucket, log_ratio) and must have been fitted with the same
    ``DSIR_N_BUCKETS`` (bucket ids are hash positions — a mismatch is a
    different feature space)."""
    feats = hashed_feature_stream(raw, DSIR_N_BUCKETS, DSIR_SEED)
    weights = (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.avg("log_ratio").alias("w_raw"),
        )
    )
    u = (
        F.pmod(
            md5_prefix_long(
                F.concat(F.lit(DSIR_SEED + ":g:"), F.col("doc_id").cast("string")), 8
            ),
            F.lit(_GUMBEL_RES),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_GUMBEL_RES))
    gumbel = -F.log(-F.log(u))
    return (
        raw.select("doc_id")
        .distinct()
        .join(weights, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.round(F.coalesce("w_raw", F.lit(0.0)), 4).alias("log_weight"),
            F.round(F.coalesce("w_raw", F.lit(0.0)) + gumbel, 4).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(DSIR_K)
    )


def dsir_sample(raw: DataFrame, target: DataFrame) -> DataFrame:
    """Select ``DSIR_K`` documents from ``raw`` by importance resampling toward
    ``target``'s hashed-ngram distribution (fit + apply in one shot).
    Returns (doc_id, n_feats, log_weight, sample_key) — the k selected
    rows in descending sample_key order.

    log_weight = mean feature log-ratio (mean, not sum: document LENGTH
    must not dominate target-affinity — the paper normalizes likewise).
    sample_key = round(log_weight + Gumbel(u_id), 4) with u_id the
    md5-uniform of the document id: Gumbel-top-k == sampling without
    replacement proportional to exp(log_weight). Rounding to 4 dp before
    the ordering (id as tie-break) makes the selected SET identical across
    engines. Zero-feature documents draw key from weight 0 — eligible,
    never silently dropped.

    For repeated ingest batches, fit :func:`dsir_log_ratios` once and call
    :func:`dsir_apply` per batch instead — one corpus scan per batch."""
    return dsir_apply(raw, dsir_log_ratios(raw, target))
