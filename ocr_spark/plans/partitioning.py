"""Explicit partitioning for the heavy parse stage.

Why: real crawl tables arrive host-clustered (WARC segments group by
domain), and per-host page counts are Zipf-skewed — the analog of the
reference's directory-granularity stragglers (coarse ProcessPool tasks over
folders, one_key_process.py:728-743; SURVEY §4 "skew" row). A naive
partition-by-input-split would hand one executor all of the top host.

Strategy (north_rule: "salt-hashed by url host"): partition key =
``xxhash64(host, salt_bucket)`` where ``salt_bucket = pmod(xxhash64(url), K)``
and K = ``SALT_BUCKETS``.
- Pages of one host spread across exactly K partitions (bounded fan-out keeps
  host locality partially intact for downstream per-host ops),
- any single host is capped at ~K/N of the cluster, and
- the mapping is deterministic (no rand()), so re-runs produce identical
  partition membership — required for resumable, replayable lineage.

At 100 TB / 1000 executors: choose num_partitions ≈ 2-3× total cores and
K ≈ 16-64; AQE coalesces small partitions after the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


SALT_BUCKETS = 16  # salt values per host: the most partitions one host spans
NUM_BUCKETS = 16  # write_bucketed's bucket files per partition
BUCKET_COLS = ("band", "bucket")  # write_bucketed's key: the LSH band join


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by salt-hashed url host (deterministic skew-breaker; the
    host is ``parse_url``'s, JVM-side and codegen-friendly)."""
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(SALT_BUCKETS))
    key = F.xxhash64(F.parse_url(F.col("url"), F.lit("HOST")), salt)
    return df.repartition(num_partitions, key)


def write_bucketed(df: DataFrame, table_name: str, path: str) -> None:
    """Persist ``df`` as a BUCKETED parquet table (external, at ``path``):
    rows are hash-clustered into ``NUM_BUCKETS`` files per partition by
    ``BUCKET_COLS`` and sorted by them within each bucket.

    Why at 100 TB: two tables bucketed the same way on the same key join
    with ZERO exchange — Spark's bucketing metadata proves co-location, so
    the SortMergeJoin reads both sides' buckets pairwise instead of
    shuffling 100 TB twice (the join plan carries no Exchange; pinned in
    tests/test_plans.py). Same for repeated aggregations on the bucket
    key. This is the pre-shuffle-once-reuse-forever layout the prompt's
    "bucketing for co-located joins" calls for: pay one clustered write at
    ingest, then every downstream self-join / fact-dim join on that key is
    exchange-free. The salted parse shuffle handles SKEW during the heavy
    stage; bucketing handles REUSE across stages — complementary, not
    competing.

    Notes: ``saveAsTable`` is required (bucket metadata lives in the
    catalog, not the files); ``path`` makes it an external table so the
    data outlives catalog churn; readers must enable
    ``spark.sql.sources.bucketing.enabled`` (default true).
    """
    writer = df.write.format("parquet").option("path", path)
    writer = writer.bucketBy(NUM_BUCKETS, *BUCKET_COLS)
    writer.sortBy(*BUCKET_COLS).mode(
        "overwrite"
    ).saveAsTable(table_name)
