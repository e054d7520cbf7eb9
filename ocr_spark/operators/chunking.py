"""Context-window chunking: documents -> overlapping token-window chunks.

The training-data op the extraction pipeline feeds: model pretraining
consumes fixed-size token windows with overlap, so the corpus table needs a
deterministic 1:N doc->chunks operator.

Production path (``chunk_documents``): pure JVM expressions —
``split``/``filter``/``sequence``/``explode``/``slice`` — no Python in the
plan, whole-stage codegen end to end, no shuffle (chunking is embarrassingly
parallel over input partitions).

Tokenizer contract (shared verbatim by the expression path, the tests'
Python chunker, and the SQL oracle): tokens are the non-empty pieces of
splitting on the explicit ASCII whitespace class ``[ \\t\\n\\r\\f\\v]+``
— an explicit class because the three engines' notions of ``\\s`` /
``str.split()`` whitespace differ (Python's str.split also splits on
Unicode whitespace; Java's ``\\s`` is ASCII-only); an explicit shared
class removes the latent divergence. Chunk starts at every ``STRIDE``
tokens from 0 while < n_tokens; window ``WINDOW`` tokens (trailing chunks
shorter); chunks join with single spaces; documents with zero tokens
produce zero chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session

WINDOW = 60
STRIDE = 50

# the shared tokenizer class as REAL control characters — identical bytes in
# the Java regex, the RE2 (DuckDB) regex, and the tests' Python re
WS_CLASS = "[ \t\n\r\f\x0b]+"


def _token_array():
    """Expression-level tokenizer of ``text`` (the shared contract above)."""
    return F.filter(F.split(F.col("text"), WS_CLASS), lambda t: t != F.lit(""))


def chunk_documents(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, chunk_idx, chunk_text, n_tokens), expression-only.

    Plan shape: project(tokenize) -> explode(sequence) -> project(slice) —
    all inside whole-stage codegen, zero Python, zero shuffle. The same
    semantics as the tests' pure Python chunker and the SQL twin.
    """
    toks = docs.select(
        F.col("doc_id"), _token_array().alias("toks")
    ).withColumn("n", F.size("toks")).where(F.col("n") > 0)
    n_chunks = F.ceil(F.col("n") / F.lit(float(STRIDE))).cast("int")
    exploded = toks.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * STRIDE
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("toks", start + 1, WINDOW)).alias("chunk_text"),
        F.least(F.lit(WINDOW), F.col("n") - start).cast("int").alias("n_tokens"),
    )


def pack_sequences(chunks: DataFrame) -> DataFrame:
    """Assign chunks to fixed-budget training sequences: deterministic
    boundary packing — chunks in (doc_id, chunk_idx) order, sequence id =
    floor(tokens_before / 256), so every sequence holds ~256
    tokens (a chunk may straddle a boundary; the documented semantics that
    keep packing a pure expression).

    Scale-safe two-pass global cumsum (NO single-partition sort):
      1. range-repartition on the global order key, partition-local running
         sums via a window PARTITIONED BY the range id;
      2. per-range token totals (one tiny row per partition) are aggregated,
         brought to the driver (bounded by the partition count — the legitimate
         tiny-aggregate collect, same class as a query-vector probe), turned
         into cumulative offsets, and broadcast-joined back.
    tokens_before(row) = offset(range) + local_cumsum(row) - n_tokens(row).
    The chunk lineage is evaluated twice (totals pass + final pass) — the
    standard two-pass tradeoff; persist upstream if its lineage is expensive.
    """
    from pyspark.sql.window import Window

    spark = chunks.sparkSession
    num_partitions = session.default_partitions(spark)

    # persist: the totals pass and the final pass are two separate jobs, and
    # without caching each would re-execute the range exchange — whose
    # boundary SAMPLING can differ between executions on large inputs,
    # shifting rows across _pid between the two passes and misaligning the
    # broadcast offsets. Caching pins one materialized partitioning for both
    # passes (and on cache eviction the recompute reuses the already-written
    # shuffle output, which is equally stable).
    from .dedup import _persist_scoped

    ranged = _persist_scoped(
        "pack_ranged",
        chunks.repartitionByRange(
            num_partitions, F.asc("doc_id"), F.asc("chunk_idx")
        ).withColumn("_pid", F.spark_partition_id()),
    )

    totals = (
        ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
        .orderBy("_pid")
        .collect()
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["_pid"], acc))
        acc += r["_tot"]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")

    w = (
        Window.partitionBy("_pid")
        .orderBy(F.asc("doc_id"), F.asc("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_cum = F.sum("n_tokens").over(w)
    return (
        ranged.withColumn("_cum", local_cum)
        .join(F.broadcast(off_df), "_pid")
        .select(
            "doc_id",
            "chunk_idx",
            "n_tokens",
            F.floor((F.col("_off") + F.col("_cum") - F.col("n_tokens")) / 256)
            .cast("long")
            .alias("seq_id"),
        )
    )
