"""SparkSession factory with the engine's standard configuration.

Defaults are chosen for the 100 TB design point and scale down to local:
- Arrow execution ON (the whole parse stage is Arrow-batched pandas UDFs —
  the analog of the reference's per-worker engine amortization,
  one_key_process.py:672-674).
- AQE ON incl. skew-join mitigation (north_rule requirement).
- UTC session timezone (oracle comparability; duckdb timestamps are UTC-naive).
- Arrow batch 4096 rows ≈ 16 MB of html payloads: pipelines the
  Python workers and caps their peak memory; measured at parity with
  larger batches on the pinned scaling levels.
- Python workers forked from the engine's daemon (``ocr_spark._daemon``),
  which skips the per-task import-cache flush when a task changed nothing
  on the import path. ``spark.python.daemon.module`` is a static conf: only
  ``get_spark``, which builds the context, can set it; ``apply_engine_conf``
  cannot, and a spark-submit session gets it from ``--conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

EXTRACTED_SCHEMA = (
    "url string, text string, extract_status string, content_kind string, "
    "n_blocks int, bytes_in long, bytes_out long, partition_id int"
)


# Runtime-settable SQL confs (safe to apply to a spark-submit session that
# already has its master/resources fixed). ``get_spark`` builds with the same
# dict, so each value lives here only.
ENGINE_SQL_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.parquet.compression.codec": "zstd",
}


def default_partitions(spark: SparkSession) -> int:
    """Partition count of a stage that sizes itself: two per task slot."""
    return spark.sparkContext.defaultParallelism * 2


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply ``ENGINE_SQL_CONF`` to a running session. The worker daemon key
    (``spark.python.daemon.module``) is static, so it cannot be set here;
    pass it to spark-submit with ``--conf``."""
    for k, v in ENGINE_SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def get_spark(
    master: str,
    app_name: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        # two per core this process may run on
        shuffle_partitions = len(os.sched_getaffinity(0)) * 2
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ocr_spark._daemon")
    )
    for k, v in {**ENGINE_SQL_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
