"""Distributed exact per-group ranking / ntile — the CCNet bucketing op.

CCNet's defining move (Wenzek et al. 2020) is to sort each language's
documents by LM perplexity and cut the corpus into head / middle / tail
terciles; FineWeb and DCLM keep the same shape with different scores. The
naive Spark spelling — ``ntile(3) OVER (PARTITION BY lang ORDER BY score)``
— funnels every document of a language through ONE task's sort: at 100 TB
a dominant language (English is ~45% of Common Crawl) becomes a single
multi-terabyte sort partition. This module computes the SAME exact ranks
with bounded per-task state:

  1. ``repartitionByRange`` on (group, order...) — each range partition
     holds a contiguous slice of one-or-more groups' global order, sized
     by Spark's range sampler, NOT by group size;
  2. per-(range, group) row counts — a tiny aggregate (range contiguity
     bounds it at #ranges + #groups rows) — turned into per-range group
     offsets and group totals by a window over THAT tiny frame (partitioned
     by group: no SinglePartition anywhere, no driver collect);
  3. partition-local ``row_number`` within (range, group) — bounded by the
     range partition size — plus the broadcast offset = the exact global
     rank; bucket = floor(n * (rank-1) / total).

The order key must be a TOTAL order (end it with a unique tie-break
column) — equal keys could otherwise straddle a range boundary and the
local window would double-count ranks. With a total order the result is
byte-deterministic across runs, partitionings, and engines, which is what
lets the DuckDB twin be a plain ``row_number() OVER (...)``.

Reference analog: the reference ranks candidate boxes per page and keeps
bands by score order (one_key_process.py:576-607 confidence ladder); here
the ladder is corpus-wide and per-language.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session


def distributed_ntile(
    df: DataFrame,
    n: int,
    group_col: str,
    order_cols: list[Column],
    rank_col: str,
) -> DataFrame:
    """Exact ``ntile(n)`` within ``group_col`` under ``order_cols`` (MUST
    end in a unique tie-break), without any per-group global sort. Adds
    ``rank_col`` (1-based exact rank within the group) and ``_b``
    (0..n-1, earliest ranks -> 0). See module docstring for the plan.
    """
    from .dedup import _persist_scoped

    num_partitions = session.default_partitions(df.sparkSession)

    # Pin one materialized range partitioning: the counts pass and the
    # final pass are separate jobs, and re-sampled range boundaries could
    # shift rows across _pid between them (same discipline as
    # pack_sequences, chunking.py:140-153).
    ranged = _persist_scoped(
        "ntile_ranged",
        df.repartitionByRange(num_partitions, F.col(group_col), *order_cols)
        .withColumn("_pid", F.spark_partition_id()),
    )

    # Tiny frame: one row per (range, group). Offsets = rows of the same
    # group in EARLIER ranges; totals = rows of the group overall. Both
    # fall out of windows over this tiny frame, partitioned by group —
    # no SinglePartition window, no driver collect.
    counts = ranged.groupBy("_pid", group_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_group = Window.partitionBy(group_col)
    meta = counts.select(
        "_pid",
        group_col,
        F.coalesce(
            F.sum("_cnt").over(
                w_group.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
        F.sum("_cnt").over(w_group).alias("_tot"),
    )

    w_local = Window.partitionBy("_pid", group_col).orderBy(*order_cols)
    out = (
        ranged.withColumn("_local_rn", F.row_number().over(w_local))
        .join(F.broadcast(meta), ["_pid", group_col])
        .withColumn(rank_col, (F.col("_off") + F.col("_local_rn")))
        .withColumn(
            "_b",
            F.least(
                F.floor(F.lit(n) * (F.col(rank_col) - 1) / F.col("_tot")),
                F.lit(n - 1),
            ).cast("int"),
        )
        .drop("_pid", "_local_rn", "_off", "_tot")
    )
    return out


PPL_BUCKETS = ["head", "middle", "tail"]


def perplexity_buckets(df: DataFrame) -> DataFrame:
    """CCNet head/middle/tail corpus bucketing: score every document with
    the corpus-self-trained bigram LM (quality.bigram_lm_scores), rank
    within each language by score (natural-sounding first: lm_logprob
    DESC, ties by id), and cut each language into exact terciles. Returns
    (id, lang, lm_logprob, lang_rank, bucket) — one row per input
    document; docs the LM cannot judge (< 2 tokens => NULL score) come
    back with bucket 'unscored' and NULL rank rather than vanishing (P7
    discipline), exactly as CCNet routes them to the rule filters.

    Plan: LM scoring (vocabulary-sized count tables) -> join on the
    natural doc key for lang -> distributed_ntile (range exchange + tiny
    broadcast meta). Ranking reads the ROUNDED 4-dp score, so the order —
    and therefore every bucket — is reproducible bit-for-bit in the
    DuckDB twin.
    """
    from .quality import bigram_lm_scores

    scores = bigram_lm_scores(df).join(
        df.select(F.col("doc_id"), F.col("lang")), "doc_id"
    )
    scored = scores.where(F.col("lm_logprob").isNotNull())
    unscored = scores.where(F.col("lm_logprob").isNull())

    ranked = distributed_ntile(
        scored,
        n=3,
        group_col="lang",
        order_cols=[F.desc("lm_logprob"), F.asc("doc_id")],
        rank_col="lang_rank",
    )
    bucket = F.element_at(
        F.array(*[F.lit(b) for b in PPL_BUCKETS]), F.col("_b") + 1
    )
    cols = ["doc_id", "lang", "lm_logprob", "lang_rank", "bucket"]
    return (
        ranked.withColumn("bucket", bucket)
        .select(*cols)
        .unionByName(
            unscored.select(
                "doc_id",
                "lang",
                "lm_logprob",
                F.lit(None).cast("long").alias("lang_rank"),
                F.lit("unscored").alias("bucket"),
            )
        )
    )


TOP_FRACTION = 0.25  # share of documents top_fraction_gate keeps


def top_fraction_gate(df: DataFrame) -> DataFrame:
    """DCLM/FineWeb-Edu-style top-fraction selection: keep exactly the
    best ``ceil(TOP_FRACTION * n)`` documents by ``score`` (ties broken by
    id, so the cut is total and reproducible). This is the calibration
    primitive behind "keep the top 10% by classifier score" — the
    threshold is discovered from the corpus's own score distribution,
    not guessed.

    Scale shape: the exact global rank comes from the distributed_ntile
    machinery over a constant group — a range exchange plus tiny
    broadcast per-range offsets, never a single-task global sort — and
    the corpus size reaches the keep decision as a broadcast 1-row
    count. Returns (id, score, rank, kept) for every input row
    (never-drop: the rejected tail is data for the audit, not deleted).
    """
    ranked = distributed_ntile(
        df.select(F.col("doc_id"), F.col("score")).withColumn(
            "_g", F.lit(0)
        ),
        n=2,
        group_col="_g",
        order_cols=[F.desc("score"), F.asc("doc_id")],
        rank_col="rank",
    )
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    cut = F.ceil(F.lit(float(TOP_FRACTION)) * F.col("n_total")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("doc_id"),
            F.col("score"),
            F.col("rank"),
            (F.col("rank") <= cut).alias("kept"),
        )
    )
