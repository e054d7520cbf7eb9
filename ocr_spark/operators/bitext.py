"""Bitext mining: cross-lingual parallel-page alignment.

Multilingual sites publish the same article under per-language paths
(``/en/art/123`` vs ``/de/art/123``). Pairing those pages is the
classic first-stage bitext miner (WikiMatrix/CCMatrix harvest the same
signal before any embedding model runs): URL-template alignment plus a
length-ratio gate removes most false pairs for free, and the survivors
feed translation-pair training data.

Spark shape: derive (host, slug) — the language-stripped URL template —
as a pure projection, pick one deterministic representative per
(slug, lang) (min doc_id: recrawls/dups of the same localized page must
not explode the pair space), then ONE equi-join on the template key.
No cartesian anywhere: the join key is exactly the template, so the pair
space is bounded by the per-template language fan-out (#langs, tiny).
At 100 TB the template key is (host, path-with-lang-segment-masked) —
same plan, same single shuffle; skewed mega-templates (a host whose
every page maps to one slug) are the AQE skew-join case.

The ratio gate is the standard Gale–Church-style sanity check: true
translations have comparable lengths; len_ratio in [0.5, 2] keeps a
pair. Everything is expression-only, exact DuckDB twin in
`__spark_entry__._bitext_pairs_oracle`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RATIO_MIN = 0.5
RATIO_MAX = 2.0


def bitext_pairs(docs: DataFrame) -> DataFrame:
    """Align same-template pages across languages with a length gate.

    Input: one row per localized page carrying (slug, lang, id, length).
    Output: slug, lang_a < lang_b, doc_a, doc_b, len_ratio (4dp).
    """
    reps = (
        docs.groupBy(F.col("slug"), F.col("lang"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
    )
    a = reps.select(
        "slug",
        F.col("lang").alias("lang_a"),
        F.col("doc_id").alias("doc_a"),
        F.col("n_chars").alias("len_a"),
    )
    b = reps.select(
        "slug",
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_chars").alias("len_b"),
    )
    ratio = F.col("len_a").cast("double") / F.col("len_b").cast("double")
    return (
        a.join(b, "slug")
        .where(F.col("lang_a") < F.col("lang_b"))
        .where((F.col("len_a") > 0) & (F.col("len_b") > 0))
        .where((ratio >= F.lit(RATIO_MIN)) & (ratio <= F.lit(RATIO_MAX)))
        .select(
            "slug",
            "lang_a",
            "lang_b",
            "doc_a",
            "doc_b",
            F.round(ratio, 4).alias("len_ratio"),
        )
    )
