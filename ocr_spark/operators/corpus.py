"""The composed corpus-cleaning pass.

Real training-data pipelines run the hygiene operators in a fixed order —
rule filter first (cheapest, biggest cut), then exact dedup, then near-dup
clustering over what remains — and audit how much each stage removed.
This module is that composition over the engine's own operators
(quality_filter -> fingerprint groupBy -> minhash LSH -> connected
components), producing one disposition row per input document so the same
result drives the clean-corpus selection AND the per-stage audit.

Stage order matters for cost at scale: each stage's candidate set shrinks
before the next, more expensive one runs (the near-dup pair join only ever
sees quality-kept, exact-unique documents). All stages are the engine's
SQL-replayable operators, so the whole composition has an exact DuckDB
twin (``__spark_entry__._clean_corpus_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5
from .cc import dedup_clusters
from .dedup import minhash_lsh_pairs
from .quality import quality_filter


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_threshold: float = 0.5,
) -> DataFrame:
    """(id_col, stage) per input document, stage in
    ('kept', 'quality', 'exact_dup', 'near_dup') — the first stage that
    removed the document, or 'kept' if it survived all three.

    Keeper conventions match the member operators: exact dedup keeps the
    minimum id per fingerprint group; near-dup keeps each cluster's
    minimum id (the component label)."""
    ids = df.select(F.col(id_col).alias("id"))

    q_kept = (
        quality_filter(df, id_col=id_col)
        .where("kept")
        .select(F.col(id_col).alias("id"))
    )
    quality_docs = df.join(
        q_kept.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )

    fp = quality_docs.select(
        F.col(id_col).alias("id"), fingerprint_md5("text").alias("fp")
    )
    exact_keep = fp.groupBy("fp").agg(F.min("id").alias("id")).select("id")
    exact_docs = quality_docs.join(
        exact_keep.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )

    pairs = minhash_lsh_pairs(
        exact_docs, threshold=minhash_threshold, id_col=id_col
    )
    near = dedup_clusters(exact_docs, pairs, id_col=id_col).where("is_keeper")
    near_keep = near.select(F.col(id_col).alias("id"))

    return (
        ids.join(q_kept.withColumn("q", F.lit(True)), "id", "left")
        .join(exact_keep.withColumn("e", F.lit(True)), "id", "left")
        .join(near_keep.withColumn("n", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("q").isNull(), "quality")
            .when(F.col("e").isNull(), "exact_dup")
            .when(F.col("n").isNull(), "near_dup")
            .otherwise("kept")
            .alias("stage"),
        )
    )
