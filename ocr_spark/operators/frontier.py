"""Crawl-frontier politeness scheduling.

A fetch plan (sitemap recrawl, feed items, CDX batches) is not yet a
crawl: real crawlers must respect per-host politeness — robots.txt
``Crawl-delay`` or an adaptive budget — so the frontier step assigns
each candidate url a host-local slot and an absolute scheduled time.
(Reference analog: the work-queue construction before the parse stage,
main.py:21-44 — ordering and batching decided from metadata only.)

Scale shape: the window partitions by HOST, which is exactly the key the
politeness constraint serializes on anyway — a host crawled at one
request per ``delay_s`` seconds can only ever absorb 86400/delay_s urls
per day, so per-host partitions are bounded by the physics of the crawl,
not by corpus skew. The cap (``max_per_host``) enforces that bound
before the sort, so a link-farm host with 10^8 candidate urls costs one
bounded top-K, never an unbounded single-partition sort. Everything is
JVM window + join; no Python, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FETCH_DEFAULT_DELAY_S = 2.0  # seconds between fetches of a host without robots
FETCH_MAX_PER_HOST = 15      # slots per host in one crawl cycle


def fetch_schedule(candidates: DataFrame, host_delays: DataFrame) -> DataFrame:
    """Candidates (host, url, priority) x per-host delays ->
    (host, url, priority, slot, scheduled_at_s).

    Slots go to higher priority first (url as the deterministic
    tie-break); ``scheduled_at_s = slot * delay_s`` with the host's
    declared crawl delay, falling back to ``FETCH_DEFAULT_DELAY_S`` for
    hosts with no robots entry (left join, never dropped).
    ``FETCH_MAX_PER_HOST`` (read at call time) truncates each host's
    schedule to its politeness budget — the rows
    beyond it belong to the NEXT crawl cycle, so dropping them here is
    the semantics, not a loss.
    """
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    ranked = candidates.select(
        "host", "url", "priority",
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("slot"),
    )
    ranked = ranked.filter(F.col("slot") < F.lit(FETCH_MAX_PER_HOST))
    delays = host_delays.select(
        F.col("host").alias("__dh"),
        F.col("crawl_delay_s").cast("double").alias("__delay"),
    )
    return (
        ranked.join(delays, on=[F.col("host") == F.col("__dh")], how="left")
        .select(
            "host",
            "url",
            "priority",
            "slot",
            (
                F.col("slot")
                * F.coalesce(F.col("__delay"), F.lit(FETCH_DEFAULT_DELAY_S))
            ).alias("scheduled_at_s"),
        )
    )
