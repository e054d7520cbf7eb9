"""Corpus mixing: token-budget selection and domain-level quality gates.

Two selection passes every LLM training-data pipeline runs after per-doc
filtering:

- ``token_budget_select``: build a training mixture by taking the BEST
  documents per language until each language's token budget is filled
  (the data-mixture step: budgets encode the target language ratios, the
  quality ordering makes the cut a quality threshold rather than a random
  sample). Reference analog: the validator's quality scoring feeding the
  report's keep/drop decision (data_validator.py:523-551), lifted from
  per-document to corpus-budgeted.

- ``domain_blocklist``: aggregate the per-doc quality gate to crawl
  domains and flag WHOLE hosts whose corpus is mostly garbage
  (UT1/RefinedWeb-style domain filtering). A host serving 90% junk pages
  poisons even its passing pages (templated spam rotates enough to slip
  per-doc rules); the domain gate is the cheap corpus-level backstop.

Scale: ``token_budget_select`` is ONE shuffle (hash by lang) + a sort-based
running-sum window per language; languages are few, so the window's
per-partition sort is the dominant cost for a 100-TB-scale language.
``domain_blocklist`` is a zero-shuffle per-row gate plus one host
aggregation; the blocklist it returns is hosts-sized (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import quality_score, token_count
from ..functions.urls import url_host
from .quality import quality_filter

# Read at call time. Per-language token budgets of token_budget_select: ~60%
# of each language's sf0.01 token mass, zh deliberately absent (a mixture is
# also an allowlist); shared with the DuckDB twin.
MIX_BUDGETS = {"en": 7000, "de": 2000, "fr": 2200, "es": 2400}
# kept (or smoothed kept) fraction below which a host is blocked
HOST_BLOCK_FRAC = 0.85
TEMPERATURE_ALPHA = 0.3  # temperature_mixture's exponent


def token_budget_select(df: DataFrame) -> DataFrame:
    """Greedy per-language mixture selection under the ``MIX_BUDGETS``
    token budgets.

    Within each language, documents are ranked by ``quality_score``
    descending (ties broken by id, so the cut is deterministic) and
    selected while the running token total stays within the language's
    budget. Languages absent from ``MIX_BUDGETS`` are excluded entirely —
    a mixture is also a language allowlist.

    Returns (id, lang, n_tokens, quality, cum_tokens, selected): the full
    ranked ledger, not just the winners, so the caller can audit how far
    over budget the next candidate was and how the quality threshold
    landed per language.
    """
    spark = df.sparkSession
    b = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(MIX_BUDGETS.items())],
        "lang string, budget long",
    )
    scored = df.select(
        F.col("doc_id"),
        F.col("lang"),
        token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
    ).join(F.broadcast(b), "lang")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        (F.sum("n_tokens").over(w) <= F.col("budget")).alias("selected"),
    )


def domain_blocklist(df: DataFrame) -> DataFrame:
    """Per-host quality profile + block decision.

    A host is blocked when it has at least 5 documents and
    fewer than ``HOST_BLOCK_FRAC`` of them pass the per-document
    ``quality_filter``. The support floor keeps single-page hosts from
    being condemned by one bad document (mirroring the per-group support
    threshold of the V7 banded check).

    Returns (host, n_docs, kept_frac, blocked) for every host.
    """
    kept = quality_filter(df.select(F.col("doc_id"), F.col("text"))).select(
        "doc_id", "kept"
    )
    hosts = df.select(F.col("doc_id"), url_host("url").alias("host"))
    return (
        hosts.join(kept, "doc_id")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("kept").cast("double")), 4).alias("kept_frac"),
        )
        .select(
            "host",
            "n_docs",
            "kept_frac",
            (
                (F.col("n_docs") >= 5)
                & (F.col("kept_frac") < HOST_BLOCK_FRAC)
            ).alias("blocked"),
        )
    )


def domain_quality_eb(df: DataFrame) -> DataFrame:
    """Empirical-Bayes smoothed per-host quality — the web-scale fix for
    :func:`domain_blocklist`'s support floor: a floor EXEMPTS every host
    below 5 documents outright (a 4-page spam host passes forever),
    while shrinkage judges every host, scaled by its evidence:

        smoothed = (n_kept + a * g) / (n_docs + a)

    with ``g`` the corpus-wide kept rate and ``a = 20`` the
    prior pseudo-count — a 2-page host sits near the prior, a 10k-page
    host at its own rate (the standard Beta-Binomial posterior mean).

    Returns (host, n_docs, kept_frac, smoothed_frac, blocked) for every
    host; ``blocked`` compares the 4-dp-rounded smoothed rate with
    ``HOST_BLOCK_FRAC`` so both engines decide on identical values.

    Shape: the per-doc gate is the zero-shuffle quality_filter; one
    host aggregation; the global rate is a 1-row broadcast (never a
    driver collect). Exact DuckDB twin
    (``__spark_entry__._host_quality_eb_oracle``)."""
    kept = quality_filter(df.select(F.col("doc_id"), F.col("text"))).select(
        "doc_id", "kept"
    )
    hosts = df.select(F.col("doc_id"), url_host("url").alias("host"))
    per_host = (
        hosts.join(kept, "doc_id")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
    )
    g = per_host.agg(
        (F.sum("n_kept").cast("double") / F.sum("n_docs").cast("double"))
        .alias("g")
    )
    smoothed = F.round(
        (F.col("n_kept") + F.lit(20.0) * F.col("g"))
        / (F.col("n_docs") + F.lit(20.0)),
        4,
    )
    return per_host.crossJoin(F.broadcast(g)).select(
        "host",
        "n_docs",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("kept_frac"),
        smoothed.alias("smoothed_frac"),
        (smoothed < F.lit(HOST_BLOCK_FRAC)).alias("blocked"),
    )


def temperature_mixture(df: DataFrame) -> DataFrame:
    """Temperature-based multinomial mixture weights over languages (the
    mT5/XLM-R sampling rule): ``p_l  ∝  n_l^alpha`` where ``n_l`` is the
    language's token mass and ``alpha = TEMPERATURE_ALPHA``. ``alpha < 1``
    flattens the natural distribution — low-resource languages get
    upsampled relative to their raw share, high-resource ones downsampled
    — the standard knob a multilingual
    training mixture turns before ``token_budget_select`` applies the
    resulting ratios as budgets.

    Returns one row per language: (lang, n_docs, n_tokens, raw_share,
    temp_share, boost) with boost = temp_share / raw_share (>1 means the
    temperature upsampled the language), shares rounded to 6 dp.

    Scale: one hash aggregation by language (partial map-side combine) to
    a languages-sized frame, then a broadcast single-row total join — the
    corpus is touched exactly once; everything after the agg is ~10 rows.
    """
    per_lang = df.groupBy(F.col("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    powed = per_lang.withColumn(
        "w", F.pow(F.col("n_tokens").cast("double"), F.lit(float(TEMPERATURE_ALPHA)))
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w").alias("tot_w")
    )
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("raw_share"),
            F.round(F.col("w") / F.col("tot_w"), 6).alias("temp_share"),
            F.round(
                (F.col("w") / F.col("tot_w"))
                / (F.col("n_tokens") / F.col("tot_tokens")),
                4,
            ).alias("boost"),
        )
        .orderBy("lang")
    )
