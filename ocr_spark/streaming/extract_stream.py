"""Continuous-ingest extraction: the batch pipeline as a streaming query.

The reference is purely batch (SURVEY §2.10) with clear-dir/overwrite
idempotency per segment; the streaming transposition treats each arriving
pages file as a micro-batch segment: the SAME Arrow-batched extraction
(byte-identical per url — one shared core) with exactly-once file-sink
semantics and checkpoint-based resume, which is Structured Streaming's
native form of the north_rule's "resume from last committed checkpoint".

Also provides a watermarked per-host windowed metrics stream — the
continuous analog of the per-partition metrics table (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract_op import extract_pages
from ..session import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_stream(pages: DataFrame) -> DataFrame:
    """The batch parse stage run on a stream, minus the shuffle (a
    micro-batch keeps its source partitioning): identical records to the
    batch path (the golden byte-identity contract holds across batch and
    streaming execution)."""
    return extract_pages(pages, repartition=False)


def start_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """File-source -> extract -> exactly-once parquet file sink. Kill the
    query at any point and restart with the same checkpoint: no url is ever
    extracted into the sink twice (streaming resume contract)."""
    out = extract_stream(read_pages_stream(spark, input_dir, max_files_per_trigger))
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def dedup_pages_stream(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming url-dedup: crawl streams re-fetch the same url (politeness
    retries, mirror segments); keep the FIRST arrival per url within the
    watermark horizon. ``dropDuplicatesWithinWatermark`` bounds the dedup
    state by event time — unlike ``dropDuplicates``, state for urls older
    than the watermark is evicted, so the operator runs forever at crawl
    scale (the batch analog is the exact_dedup hash-groupBy; the state
    bound is what makes it a stream)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def extract_metrics_stream(pages: DataFrame, window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Watermarked per-host windowed ingest metrics (late data beyond the
    watermark is dropped deterministically) — the streaming analog of the
    per-partition metrics rows."""
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    return (
        pages.select(host, "warc_ts", F.octet_length("html").alias("n_bytes"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), F.col("host"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_bytes").alias("bytes_in"),
        )
    )
