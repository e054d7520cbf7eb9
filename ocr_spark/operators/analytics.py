"""Window / pivot / sessionization analytics.

The reference's analogs: top-k selection (O1-O3, e.g. top-10 error fields
data_validator.py:676-687), the feature pivot that assembles one row per
document (A3, one_key_process.py:848-888 — relationally
``groupBy(doc).pivot(feature).agg(first)``), and run-level sequence metrics
(A8). Expressed as window functions / pivot so Catalyst plans them
(WindowExec after a single hash-partition exchange; pivot folds to one
aggregate with no per-value shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def topk_per_group(df: DataFrame) -> DataFrame:
    """Top-2 events per user by ``value`` desc (deterministic: ties break
    on ``event_id`` asc). One exchange on the group key, no self-join."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Assign session ids: a session breaks when the gap to the previous
    event of the same user exceeds 30 minutes (lag + running sum —
    the standard shuffle-once sessionization)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    return events.withColumn(
        "session_id", F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-user session metrics from sessionize()."""
    s = sessionize(events)
    return (
        s.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def rollup_event_stats(events: DataFrame) -> DataFrame:
    """Hierarchical totals via ROLLUP(event_type): per-type rows plus the
    grand total in one pass (Expand + single hash aggregate — no second
    job for the total). ``is_total`` = GROUPING flag disambiguates the
    NULL subtotal row from a genuine NULL key."""
    return (
        events.rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping("event_type").cast("int").alias("is_total"),
        )
        .orderBy(F.asc("is_total"), F.asc_nulls_last("event_type"))
    )


def moving_avg(events: DataFrame) -> DataFrame:
    """Sliding window-frame aggregate: avg of the current + previous
    2 events per user (ROWS BETWEEN 2 PRECEDING AND CURRENT).
    Deterministic order: (ts, event_id). One exchange on the partition key."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("mavg_value"),
        F.round(F.sum("value").over(w), 4).alias("msum_value"),
    )


GROUP_QUANTILES = (0.5, 0.9)  # group_quantiles' output columns q50, q90


def group_quantiles(df: DataFrame) -> DataFrame:
    """Exact per-language quantiles (``GROUP_QUANTILES``) of ``n_chars`` via
    grouped ``applyInPandas`` — the operator shape for per-group logic that
    built-in aggregates can't express exactly (Spark's percentile_approx is approximate; numpy's
    linear-interpolation percentile matches SQL ``quantile_cont``).
    One shuffle on the group key; each group is one Arrow batch, so this
    assumes per-group cardinality fits an executor (true for per-language
    / per-host stats; use the sketch path otherwise)."""
    import numpy as np
    import pandas as pd

    # the group column keeps its incoming type
    group_type = df.schema["lang"].dataType.simpleString()
    out_cols = ", ".join(f"q{int(q * 100)} double" for q in GROUP_QUANTILES)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {"lang": [pdf["lang"].iloc[0]]}
        vals = pdf["n_chars"].to_numpy(dtype="float64")
        for q in GROUP_QUANTILES:
            row[f"q{int(q * 100)}"] = [round(float(np.percentile(vals, q * 100)), 4)]
        return pd.DataFrame(row)

    return (
        df.select("lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(stats, schema=f"lang {group_type}, {out_cols}")
    )


def asof_prior_event(events: DataFrame) -> DataFrame:
    """As-of join: each 'purchase' event matched to the most recent
    'click' event of the same user at or before its timestamp.

    Spark has no native ASOF JOIN; the scalable encoding is union + one
    window pass — tag both sides, sort per user by (ts, side) with the
    right side first on ties, and carry ``last(right_ts, ignorenulls)``
    forward. ONE shuffle on the user key, zero join fan-out — at 100 TB
    this beats the range-join encoding (which explodes candidates and
    re-filters). Outputs epoch seconds (timezone-free compare contract).
    """
    et = F.col("event_type")
    tagged = events.where(et.isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(et == "click", F.col("ts")).alias("right_ts"),
        F.when(et == "purchase", F.lit(1)).otherwise(F.lit(0)).alias("is_left"),
    )
    w = (
        Window.partitionBy("user_id")
        # right side sorts first on ts ties: "at or before" includes equal ts
        .orderBy(F.asc("ts"), F.asc("is_left"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "prior_ts", F.last("right_ts", ignorenulls=True).over(w)
    )
    # microsecond epochs: exact integers on both engines (second-level
    # epochs disagree on sub-second timestamps: floor vs round). The NTZ ->
    # TZ cast is interpreted in the engine's pinned UTC session timezone,
    # which matches the oracle's naive epoch_us.
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    prior_ep = F.unix_micros(F.col("prior_ts").cast("timestamp"))
    return carried.where(F.col("is_left") == 1).select(
        "event_id",
        "user_id",
        ep.alias("ts_us"),
        prior_ep.alias("prior_ts_us"),
        (ep - prior_ep).alias("gap_us"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_event_values(events: DataFrame) -> DataFrame:
    """A3-analog pivot: one row per user, one column per event type with the
    summed value. ``EVENT_TYPES`` is explicit (never inferred) so the plan
    needs no extra distinct-values job and output schema is deterministic."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )


def burst_detection(events: DataFrame) -> DataFrame:
    """Trailing-baseline anomaly flags over an event stream — the crawl/
    ingest monitoring primitive (a host suddenly 10x-ing its error rate,
    a scraper loop flooding one hour): per (type, hour) counts scored
    against the mean/stddev of the PRECEDING 24 hour buckets
    (ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING — the current hour never
    contaminates its own baseline). Returns (type, hour, n_events,
    base_avg, base_std, zscore, is_burst).

    Decision discipline: is_burst compares the 4-dp ROUNDED z-score
    (both engines decide on identical digits), requires z > 3 and 5
    events (a 1->2 jump on a quiet type is not a burst). The divisor is
    ``greatest(base_std, 1.0)`` — the count-data floor: a perfectly flat
    baseline has zero variance, and without the floor the clearest burst
    of all (a flood over dead-constant traffic) would divide by zero and
    never flag. Warm-up rows (empty baseline) get NULL zscore and
    is_burst=false, never dropped. The frame is row-based over OBSERVED
    hour buckets —
    documented: a silent-hour gap compresses the baseline window, which
    for crawl monitoring (dense hours) is the cheap and correct trade;
    densifying to wall-clock hours is a generate_series join away.

    Scale: one map-side-combined count shuffle to hour grain (output
    rows = types x hours, tiny), then a types-partitioned window —
    never a corpus-sized sort."""
    hourly = events.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("hour"))
        .rowsBetween(-24, -1)
    )
    base_avg = F.avg("n_events").over(w)
    base_std = F.stddev_pop("n_events").over(w)
    z = F.when(
        base_avg.isNotNull(),
        F.round(
            (F.col("n_events") - base_avg)
            / F.greatest(base_std, F.lit(1.0)),
            4,
        ),
    )
    return hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.round(base_avg, 4).alias("base_avg"),
        F.round(base_std, 4).alias("base_std"),
        z.alias("zscore"),
        (
            F.coalesce(z > F.lit(3.0), F.lit(False))
            & (F.col("n_events") >= 5)
        ).alias("is_burst"),
    )
