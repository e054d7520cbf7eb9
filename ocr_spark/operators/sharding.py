"""Deterministic training-shard export.

The last step of a corpus pipeline is writing training shards: documents
must scatter across N shards UNIFORMLY (no crawl-order locality — a shard
of consecutive urls from one host skews every batch that reads it), the
assignment must be DETERMINISTIC (re-running the export reproduces the
same shards, so downstream training is replayable), and each shard needs
a stable internal order. The reference's analog is its deterministic
output partitioning of results per batch folder (SURVEY §2.1 K-family).

Implementation: a seeded md5-derived sort key (the engine's portable hash
family — replayable in any SQL engine) gives each document a
pseudo-random position; shard = key mod N_SHARDS, in-shard position =
rank of key within the shard. One hash-partition exchange on shard, then
a per-shard sort — exactly the movement the shard writer needs anyway, so
the plan has zero wasted shuffles. At 100 TB, N_SHARDS is thousands and
each shard sorts independently in one task (bounded by shard size, not
corpus size)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import md5_prefix_long, ordered_collect

SHARD_SEED = "shard-seed-1"
N_SHARDS = 16


def shard_key() -> "F.Column":
    """Deterministic 32-bit shuffle key: first 32 bits of
    md5(SHARD_SEED || ':' || doc_id) — portable (DuckDB:
    ('0x' || substr(md5(...), 1, 8))::BIGINT)."""
    key = F.concat(F.lit(SHARD_SEED + ":"), F.col("doc_id").cast("string"))
    return md5_prefix_long(key, 8)


def shard_assignment(df: DataFrame) -> DataFrame:
    """(doc_id, shard, pos): a seeded global shuffle into ``N_SHARDS``
    shards with a stable in-shard order. Ties in the 32-bit key break on
    id, so the full ordering is total and deterministic."""
    key = shard_key()
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        df.select(F.col("doc_id"), key.alias("key"))
        .withColumn("shard", (F.col("key") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w) - 1)
        .select("doc_id", "shard", "pos")
    )


def shard_manifest(df: DataFrame) -> DataFrame:
    """The export manifest a training-data release ships next to its
    shards: per shard the doc count, byte total, and an ORDER-SENSITIVE
    content fingerprint (md5 over the in-shard-position-ordered document
    fingerprints). A reader re-deriving the manifest from downloaded
    shards proves bit-level integrity AND ordering — a shuffled or
    truncated shard changes the fingerprint even when every document
    survives. Returns (shard, n_docs, n_bytes, content_fp), one row per
    NON-EMPTY shard, ordered by shard.

    Shape: the shard assignment's own exchange is reused — the manifest
    aggregate groups on the shard key the rows already carry; the
    ordered digest folds inside each group via array_sort over (pos, fp)
    structs (deterministic, no second sort exchange). SQL-replayable:
    md5(string_agg(fp, '' ORDER BY pos))."""
    fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
    nb = F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    asg = shard_assignment(df)
    rows = asg.join(
        df.select(F.col("doc_id"), fp.alias("fp"), nb.alias("nb")), "doc_id"
    )
    ordered_fps = ordered_collect(F.struct("pos", "fp"), "fp")
    return (
        rows.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("n_bytes"),
            F.md5(F.array_join(ordered_fps, "")).alias("content_fp"),
        )
        .orderBy("shard")
    )
