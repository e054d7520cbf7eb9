"""Continuous-ingest extraction: the batch pipeline as a streaming query.

The reference is purely batch (SURVEY §2.10) with clear-dir/overwrite
idempotency per segment; the streaming transposition treats each arriving
pages file as a micro-batch segment: the SAME Arrow-batched extraction
(byte-identical per url — one shared core) with exactly-once file-sink
semantics and checkpoint-based resume, which is Structured Streaming's
native form of the north_rule's "resume from last committed checkpoint".
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract_op import extract_pages
from ..session import PAGES_SCHEMA

MAX_FILES_PER_TRIGGER = 8


def start_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """File-source -> extract -> exactly-once parquet file sink.

    The parse stage is the batch one minus the shuffle (a micro-batch keeps
    its source partitioning), so the records are identical to the batch
    path's: the golden byte-identity contract holds across batch and
    streaming execution. The ``availableNow`` trigger drains every file
    present at start (at most ``MAX_FILES_PER_TRIGGER`` per micro-batch)
    and then stops the query. Kill the query at any point and restart with
    the same checkpoint: no url is ever extracted into the sink twice, and
    files that arrived since are picked up (streaming resume contract)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )
    return (
        extract_pages(pages, repartition=False)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
