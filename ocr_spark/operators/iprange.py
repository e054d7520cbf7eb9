"""Interval (range) joins done the scale-safe way: IP → network-range
lookup as the worked example.

The naive formulation — ``corpus JOIN ranges ON ip BETWEEN lo AND hi`` —
is a non-equi join, which Spark executes as BroadcastNestedLoopJoin:
every corpus row is tested against EVERY range, O(n·m) comparisons. Fine
at 60k rows, a wall at 100 TB even with a broadcast dim.

The scalable construction turns it into an equi-join by bucketing both
sides on a shared prefix: each range is exploded into the /8 prefixes it
covers (bounded fan-out: a ranges-sized table stays tiny), the corpus
side computes its single ``ip >> 24`` prefix as a zero-cost projection,
and the join is hash-on-prefix + residual ``BETWEEN`` filter. At 1000
executors that is one broadcast hash join with per-row candidate sets of
~1 range instead of m — the same trick that makes time-interval
conflation and geo bucketing tractable (Spark's own range-join hints on
Databricks do exactly this binning internally).

Reference analog: the provenance lookup joining rows to their source
windows (export_pipeline.py:210-238) is a point-in-interval probe of the
same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# deterministic multiplicative-hash constant (Knuth) shared with the SQL
# twin so both engines derive the same synthetic IPs
IP_HASH_A = 2654435761
IP_SPACE = 1 << 32
PREFIX_SHIFT = 24  # /8 buckets


def network_ranges() -> list[tuple[int, int, str]]:
    """Deterministic (lo, hi, region) network ranges covering most — not
    all — of the IPv4 space, with deliberate gaps so the unrouted path is
    exercised. Widths vary by a factor of ~6 and some ranges straddle /8
    boundaries so the prefix explosion is non-trivial. Plain Python so the
    Spark frame and the DuckDB VALUES literal come from one source."""
    regions = ["amer", "emea", "apac", "latam", "anz", "mea"]
    out: list[tuple[int, int, str]] = []
    pos = 0
    step = IP_SPACE // 48  # 48 ranges before the widths vary
    for r in range(48):
        width = step * ((r % 3) + 1) // 2
        gap = step // 4 if r % 5 == 0 else 0
        lo = pos + gap
        hi = min(lo + width - 1, IP_SPACE - 1)
        if lo >= IP_SPACE:
            break
        out.append((lo, hi, regions[r % len(regions)]))
        pos = hi + 1
    return out


def _ranges_df(spark: SparkSession, ranges: list[tuple[int, int, str]]) -> DataFrame:
    return spark.createDataFrame(ranges, "lo long, hi long, region string")


def explode_range_prefixes(ranges: DataFrame) -> DataFrame:
    """One row per (prefix, range): ``sequence(lo>>24, hi>>24)`` exploded.
    Fan-out is bounded by the address width of each range — the exploded
    table stays ranges-sized (a few hundred rows here), broadcastable."""
    return ranges.select(
        F.explode(
            F.sequence(
                F.shiftrightunsigned(F.col("lo"), PREFIX_SHIFT),
                F.shiftrightunsigned(F.col("hi"), PREFIX_SHIFT),
            )
        ).alias("prefix"),
        "lo",
        "hi",
        "region",
    )


def ip_range_join(events: DataFrame, ranges: DataFrame) -> DataFrame:
    """Route each event's IP to its network range via the prefix-bucketed
    equi-join; events whose IP falls in a coverage gap keep a NULL region
    (left join — the P7 never-drop contract applies to routing too).

    Plan shape: project(prefix) -> BroadcastHashJoin(prefix) -> residual
    BETWEEN filter, zero shuffle of the event side."""
    pref = events.withColumn(
        "prefix", F.shiftrightunsigned(F.col("ip"), PREFIX_SHIFT)
    )
    cand = F.broadcast(explode_range_prefixes(ranges))
    return pref.join(
        cand,
        (pref["prefix"] == cand["prefix"])
        & (F.col("ip") >= cand["lo"])
        & (F.col("ip") <= cand["hi"]),
        "left",
    ).drop(cand["prefix"]).drop("prefix")


def region_traffic(events: DataFrame, spark: SparkSession) -> DataFrame:
    """Per-region traffic rollup over synthetic per-user IPs: derive a
    deterministic IP from the user id (multiplicative hash — both engines
    agree on BIGINT arithmetic), route via :func:`ip_range_join`, then one
    hash aggregation. Returns (region, n_events, n_users, min_ip, max_ip)
    with coverage gaps surfaced as region ``'unrouted'``."""
    with_ip = events.withColumn(
        "ip", (F.col("user_id") * F.lit(IP_HASH_A)) % F.lit(IP_SPACE)
    )
    routed = ip_range_join(with_ip, _ranges_df(spark, network_ranges()))
    return (
        routed.groupBy(
            F.coalesce(F.col("region"), F.lit("unrouted")).alias("region")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ip").alias("min_ip"),
            F.max("ip").alias("max_ip"),
        )
        .orderBy("region")
    )
