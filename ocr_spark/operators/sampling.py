"""Deterministic hash-based sampling — the training-data downsampling op.

Corpus mixing needs per-stratum rates (downweight boilerplate-heavy
languages, upweight rare ones) that are REPRODUCIBLE: the same row set on
every run, every partitioning, every engine — which rules out RNG-based
``df.sample``/``sampleBy`` (seed + partition dependent, and not replayable
in SQL). Instead each row's key hashes to a bucket in [0, DENOM) via the
same md5-derived 32-bit base hash the minhash family uses (portable to
DuckDB verbatim), and a row is kept when ``bucket < rate * DENOM``.

Properties the pipeline relies on:
- pure map-side filter: no shuffle, no state, linear scale-out;
- nested samples: rate 0.1 is a subset of rate 0.5 (same hash, smaller
  cutoff) — growing a sample never resamples;
- salt decorrelates: different salts give independent samples over the
  same keys (held-out splits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_long

SAMPLE_DENOM = 10_000


def sample_bucket(key_col, salt: str) -> Column:
    """Deterministic bucket in [0, SAMPLE_DENOM) from the row key + salt.
    SQL twin: ('0x' || substr(md5(key || ':' || salt), 1, 8))::BIGINT % 10000.
    """
    key = F.concat_ws(":", F.col(key_col).cast("string"), F.lit(salt))
    return F.pmod(md5_prefix_long(key, 8), F.lit(SAMPLE_DENOM))


STRATIFIED_DEFAULT_RATE = 0.1  # keep fraction of strata stratified_sample does not list
LEAKAGE_EVAL_FRAC = 0.1  # share of hosts leakage_safe_split sends to eval
CAP_PER_GROUP = 15  # rows per host cap_per_group keeps
# the three are read at call time


def stratified_sample(df: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates`` maps stratum values to
    keep fractions; unlisted strata keep ``STRATIFIED_DEFAULT_RATE``. One
    map-side CASE + filter — the per-language corpus mixing shape."""
    cutoff = F.lit(int(STRATIFIED_DEFAULT_RATE * SAMPLE_DENOM))
    for value, rate in sorted(rates.items()):
        cutoff = F.when(
            F.col("lang") == value, F.lit(int(rate * SAMPLE_DENOM))
        ).otherwise(cutoff)
    return df.where(sample_bucket("doc_id", "sample") < cutoff)


def soft_sample(df: DataFrame) -> DataFrame:
    """Quality-weighted (soft) sampling — the DCLM/FineWeb-Edu move of
    keeping a document with probability equal to its quality ``score``
    instead of thresholding: a hard cutoff throws away every borderline
    document and keeps every barely-passing one, while importance
    resampling preserves the score DISTRIBUTION (the kept corpus's
    expected composition matches the weights exactly). Keep iff
    bucket(key) < clamp(weight, 0, 1) * DENOM — the same portable md5
    ``sample_bucket`` as ``stratified_sample``, so the draw is reproducible across runs,
    partitionings, and engines, and raising a document's score can only
    ever flip it drop->keep (monotone, never resampled). NULL weights
    clamp to 0 (dropped — an unscored doc has no business in a
    score-weighted corpus, and the flag row still comes back). Pure
    map-side projection: zero shuffle, streaming-safe. Returns the input
    + (sample_bucket, kept)."""
    w = F.least(
        F.greatest(F.coalesce(F.col("score"), F.lit(0.0)), F.lit(0.0)),
        F.lit(1.0),
    )
    b = sample_bucket("doc_id", "soft")
    return df.withColumn("sample_bucket", b).withColumn(
        "kept", b < (w * SAMPLE_DENOM).cast("long")
    )


def leakage_safe_split(df: DataFrame) -> DataFrame:
    """Train/eval assignment at ``host`` granularity: every row of a host
    lands in the same split, so near-duplicate pages
    from one site can never straddle the train/eval boundary (the
    contamination vector document-level random splits leave open).
    The verdict hashes the host — a pure map-side projection, zero
    shuffle, reproducible across runs/partitionings/engines, and nested
    the same way the sampler is (growing ``LEAKAGE_EVAL_FRAC`` only moves
    groups train->eval, never reshuffles)."""
    cut = int(LEAKAGE_EVAL_FRAC * SAMPLE_DENOM)
    return df.withColumn(
        "split",
        F.when(sample_bucket("host", "split") < cut, F.lit("eval"))
        .otherwise(F.lit("train")),
    )


def cap_per_group(df: DataFrame) -> DataFrame:
    """Deterministic per-host downsampling cap: keep at most ``CAP_PER_GROUP`` rows
    per ``host`` (the over-represented-host control every crawl mix needs —
    without it one mega-host dominates whatever it touches). Which rows
    survive is a pure function of (id, salt): rows rank by the same
    portable md5 bucket ``sample_bucket`` uses (ties by id), and rank >
    ``CAP_PER_GROUP`` drops. One exchange on the group key; the per-group sort is bounded
    by group size. Returns the input rows + (cap_rank, kept)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(
        sample_bucket("doc_id", "hostcap"), F.col("doc_id")
    )
    return df.withColumn("cap_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("cap_rank") <= CAP_PER_GROUP
    )
