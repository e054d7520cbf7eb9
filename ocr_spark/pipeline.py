"""The batch extraction pipeline: resumable, metric'd, snapshot-committed.

End-to-end lifecycle (the Spark transposition of the reference's
batch_folder_process.py segment loop, SURVEY §3.2):

    pages ──left_anti(committed urls)──► todo ──groupBy(chunk).count()──►
    per chunk with pages left: url-hash filter ──► extract_pages("auto")
    ──append snapshot(rows=count)──► table; then, once per run: the files
    of every uncovered chunk snapshot ──► metrics ──append──► metrics table

- Resume (north_rule "resumes from the last committed checkpoint"): urls
  already present in committed snapshots are skipped via a broadcast-friendly
  ``left_anti`` join — the analog of the reference's "skip what's done"
  segment idempotency (batch_folder_process.py:819-822,873-876).
- One pre-count per run: a single ``groupBy`` over the anti-join counts the
  pages left in each chunk (a JVM-only job for file or table input). Chunks
  with none left build no parse stage, so a no-op resume starts no Python
  task. The count is each snapshot's ``rows``: the parse emits exactly one
  row per input row (P7).
- Chunked commits: the input is split into ``chunks`` deterministic url-hash
  buckets, each committed as its own snapshot — the segment granularity at
  which a crash loses at most one chunk of work. The append is the chunk's
  only parse job.
- Partitioning: ``extract_pages``' "auto" policy, decided once per run on
  ``pages`` — the salted host shuffle runs only when the pages' scan cannot
  fill the task slots; a well-split input is parsed where it lies. (A
  resumed chunk's input also lists the committed table's files behind the
  anti-join; they hold no page to parse, so they must not count.)
- Metrics (FIXTURES.md §4): per-partition docs parsed / failures / bytes
  in/out of each chunk snapshot, under its own ``run_id``, read back from
  four narrow columns of its files — the 识别成功率-and-run-counters analog
  (one_key_process.py:890-894; batch_folder_process.py:977-1028). One job
  and one commit after the chunk loop cover the chunk snapshots behind the
  current files that no metrics ``snapshot_id`` partition names (manifests
  only): a resume covers a crashed run's chunks; a no-op commits nothing.

At 100 TB: chunks map to crawl segments (or partition predicates pushed to
the Iceberg scan); the anti-join's right side is a url-only projection of the
output table — Bloom-filter-sized, and AQE picks broadcast when it fits.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract_op import auto_repartition, extract_pages
from .session import EXTRACTED_SCHEMA
from .sources.iceberg_lite import IcebergLiteTable

METRICS_SCHEMA = (
    "run_id string, chunk int, partition_id int, docs_parsed long, "
    "parse_failures long, bytes_in long, bytes_out long, snapshot_id string"
)


@dataclass
class ExtractResult:
    run_id: str
    snapshots: list[str] = field(default_factory=list)
    chunks_done: int = 0
    chunks_skipped: int = 0
    docs: int = 0


def _metrics(spark: SparkSession, out_table: IcebergLiteTable, snaps: list[dict]) -> DataFrame:
    """Per-partition counters of each chunk snapshot in ``snaps``, under its own ids."""
    written = reduce(DataFrame.unionByName, [
        out_table.read_added(spark, s["snapshot_id"]).select(
            F.lit(s["properties"]["run_id"]).alias("run_id"),
            F.lit(s["properties"]["chunk"]).alias("chunk"),
            F.lit(s["snapshot_id"]).alias("snapshot_id"),
            "partition_id", "extract_status", "bytes_in", "bytes_out")
        for s in snaps])
    failed = F.col("extract_status").startswith("error")
    return written.groupBy("run_id", "chunk", "partition_id", "snapshot_id").agg(
        F.count(F.when(~failed, 1)).alias("docs_parsed"),
        F.count(F.when(failed, 1)).alias("parse_failures"),
        F.sum("bytes_in").alias("bytes_in"), F.sum("bytes_out").alias("bytes_out"))


def run_extract(spark: SparkSession, pages: DataFrame, table_root: str, run_id: str,
                chunks: int, num_partitions: int | None = None,
                resume: bool = True) -> ExtractResult:
    """Run (or resume) the extraction batch over ``pages``.

    Output snapshots are Hive-partitioned by ``content_kind`` (the stated
    layout column — it splits the html/pdf/text branches) and record
    per-entry min/max ``url`` in the manifest, so downstream
    reads prune committed segments at the manifest level (S4).
    """
    from .core.rules import assert_rules_sane

    assert_rules_sane()  # P5: a bad rule table fails the JOB, not the rows
    out_table = IcebergLiteTable(f"{table_root}/extracted")
    metrics_table = IcebergLiteTable(f"{table_root}/metrics")
    res = ExtractResult(run_id=run_id)

    todo = (pages.join(out_table.read(spark).select("url"), "url", "left_anti")
            if resume and out_table.exists() else pages)

    shuffle = auto_repartition(pages)
    chunk_col = F.pmod(F.xxhash64("url"), F.lit(chunks))
    left = dict(todo.groupBy(chunk_col).count().collect())
    for chunk in range(chunks):
        n = left.get(chunk, 0)
        if n == 0:
            res.chunks_skipped += 1
            continue
        extracted = extract_pages(todo.where(chunk_col == chunk),
                                  num_partitions=num_partitions, repartition=shuffle)
        props = {"run_id": run_id, "chunk": chunk, "rows": n}
        snap = out_table.append(extracted, properties=props,
                                partition_by="content_kind", stats_cols=("url",))
        res.snapshots.append(snap)
        res.chunks_done += 1
        res.docs += n

    covered = {e["partition"]["snapshot_id"] for e in metrics_table.entries()}
    fresh = {os.path.basename(e["base"]) for e in out_table.entries()} - covered
    snaps = [s for s in map(out_table.snapshot, sorted(fresh)) if s and "chunk" in s["properties"]]
    if snaps:
        metrics_table.append(_metrics(spark, out_table, snaps), partition_by="snapshot_id")
    return res


def read_extracted(spark: SparkSession, table_root: str) -> DataFrame | None:
    return IcebergLiteTable(f"{table_root}/extracted").read(spark, schema=EXTRACTED_SCHEMA)


def read_metrics(spark: SparkSession, table_root: str) -> DataFrame | None:
    return IcebergLiteTable(f"{table_root}/metrics").read(spark, schema=METRICS_SCHEMA)
