"""Cardinality sketches: a fully relational HyperLogLog.

At 100 TB the question "how many distinct urls / tokens / fingerprints per
host" is everywhere (crawl-budget planning, dedup-rate audits, vocabulary
growth curves), and an exact ``count(distinct ...)`` per group means a
full shuffle of every distinct key. A HyperLogLog register table is the
production answer: constant size per group (``m`` registers), mergeable
across partitions/days by a simple ``max`` per register, and the group-by
carries (group, bucket, max_rho) rows — bounded by ``groups x m`` no
matter how many keys stream through.

This implementation is deliberately EXPRESSION-ONLY (no UDF, no sketch
library): the 52-bit md5-based hash, the bucket split, the leading-zero
rank, and the register max are all built-in column functions, so (a) the
whole pipeline stays inside whole-stage codegen with map-side partial
aggregation, and (b) every intermediate is replayable in ANSI SQL — the
DuckDB oracle computes bit-identical registers and therefore an identical
estimate (`__spark_entry__._hll_distinct_oracle`).

Determinism discipline: the harmonic-mean denominator is accumulated as
an exact INTEGER (each register contributes ``2^(RHO_MAX - rho)``), so no
floating-point sum whose value could depend on partition/accumulation
order ever occurs; the only float ops are one division and one ``ln``,
both computed once per group from exact integers — identical in any
engine implementing IEEE doubles.

Reference parity note: the reference counts distinct processed base-names
exactly (one_key_process.py:820-826); this is the scale-path analog for
cardinalities where exact counting is the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_long

# p=8 -> m=256 registers/group: ~6.5% standard error, 256-row group state.
HLL_P = 8
HLL_M = 1 << HLL_P
# 52-bit hash (13 hex chars of md5): bucket = low 8 bits, rank over the
# remaining 44. 52 bits keeps every value exact in BIGINT *and* in the
# doubles DuckDB renders, and 44 rank bits is plenty below ~2^40 keys.
HLL_HASH_BITS = 52
HLL_REST_BITS = HLL_HASH_BITS - HLL_P  # 44
RHO_MAX = HLL_REST_BITS + 1  # rest == 0 -> all bits "zero" -> rho 45
# alpha_m for m=256: 0.7213 / (1 + 1.079/m) (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_registers(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """(group, bucket, rho) register table: the mergeable sketch state.

    One narrow projection then ONE partial-agg groupBy on
    (group, bucket) — at scale the combiner collapses each partition to
    at most ``groups x 256`` rows before the shuffle. Registers from
    different corpus slices union + re-max to merge (HLL's whole point).
    """
    h = md5_prefix_long(key_col, 13)
    bucket = (h % F.lit(HLL_M)).cast("int")
    rest = F.shiftright(h, HLL_P)
    rho = F.when(rest == 0, F.lit(RHO_MAX)).otherwise(
        F.lit(RHO_MAX) - F.length(F.bin(rest))
    ).cast("int")
    return (
        # NULL keys carry no distinct value: md5(NULL) would otherwise
        # propagate a (grp, NULL, NULL) register row that inflates
        # registers_used without contributing to z_present, biasing both
        # the raw estimate and the linear-counting empty-register term.
        # parse_url(url,'HOST') feeding this path IS NULL for malformed
        # urls, so the filter is load-bearing, not defensive.
        df.where(F.col(key_col).isNotNull())
        .select(F.col(group_col).alias("grp"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Per-group estimate from a (grp, bucket, rho) register table.

    Columns: grp, est_distinct (BIGINT), registers_used. The harmonic
    denominator is the exact integer ``V*2^45 + sum(2^(45 - rho))``
    (scale 2^45 = 2^RHO_MAX so the deepest register, rho = 45, still
    contributes an integer 1; empty registers carry M_j = 0 -> 2^45), so
    the estimate is a single deterministic double expression per group.
    ``est = m*ln(m/V)`` (linear counting) replaces the raw estimate below
    2.5*m, per the standard algorithm.
    """
    scale = F.lit(1 << RHO_MAX)  # 2^45, exact in BIGINT
    # dynamic shift: the Python-API shiftright takes only a literal count,
    # the SQL function takes an expression
    per_reg = F.expr(f"shiftright(CAST({1 << RHO_MAX} AS BIGINT), rho)")
    agg = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("registers_used"),
        F.sum(per_reg).alias("z_present"),
    )
    v = F.lit(HLL_M) - F.col("registers_used")  # empty registers
    z_scaled = v.cast("long") * scale + F.col("z_present")
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) * scale.cast("double") / z_scaled.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        "grp",
        F.round(est).cast("long").alias("est_distinct"),
        F.col("registers_used").cast("long").alias("registers_used"),
    )


def hll_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """One-shot per-group HLL estimate (sketch + estimate in one plan)."""
    return hll_estimate(hll_registers(df, group_col, key_col))


# ---------------------------------------------------------------------------
# DDSketch-style quantile sketch (Masson et al., VLDB 2019), integer-binned.
#
# The quantile twin of the HLL above: per-group state is a bounded bucket
# histogram (<= 16 + 8*59 rows however many values stream through),
# mergeable by plain count-sum, with a bounded RELATIVE error on the
# estimate. Production sketches bin by ceil(log_gamma(x)) — a float log
# whose bucket boundaries would be libm-dependent and therefore break
# cross-engine parity. This one bins with INTEGER arithmetic only:
# values 0..15 get exact unit buckets; larger values split their
# power-of-two octave into 8 linear sub-buckets (bucket width base/8,
# so relative error <= 6.25% at the midpoint estimate — the gamma ~ 1.09
# regime). Every boundary is a pure integer comparison -> bit-identical
# in any engine.
# ---------------------------------------------------------------------------

DD_SUBS = 8          # linear sub-buckets per power-of-two octave
DD_EXACT_MAX = 15    # values 0..15 are their own exact buckets (ids 0..15)


# bucket id of the nonnegative integer column n_chars (engine-neutral
# integer arithmetic; the DuckDB twin swaps `div` for `//`)
_DD_BASE_SQL = "shiftleft(CAST(1 AS BIGINT), length(bin(n_chars)) - 1)"
_DD_BUCKET_SQL = (
    f"CASE WHEN n_chars <= {DD_EXACT_MAX} THEN CAST(n_chars AS BIGINT) "
    f"ELSE CAST({DD_EXACT_MAX + 1} + (length(bin(n_chars)) - 5) * {DD_SUBS} "
    f"+ ((n_chars - {_DD_BASE_SQL}) * {DD_SUBS}) div {_DD_BASE_SQL} AS BIGINT) END"
)


def dd_buckets(df: DataFrame, group_col: str) -> DataFrame:
    """(grp, bucket, cnt) histogram state of ``n_chars`` — the mergeable
    sketch.

    One projection + one partial-agg groupBy; merge = union + re-sum.
    NULL/negative values are out of the sketch's domain and are dropped
    here (callers tracking them keep their own count column)."""
    return (
        df.where(F.col("n_chars").isNotNull() & (F.col("n_chars") >= 0))
        .select(
            F.col(group_col).alias("grp"),
            F.expr(_DD_BUCKET_SQL).alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# midpoint value of a bucket id: exact ids return themselves; octave ids
# reconstruct lower + width/2 from integer pieces, one final /2.0
_DD_EST_SQL = (
    f"CASE WHEN bucket <= {DD_EXACT_MAX} THEN CAST(bucket AS DOUBLE) "
    f"ELSE ("
    f"2 * (shiftleft(CAST(1 AS BIGINT), CAST((bucket - {DD_EXACT_MAX + 1}) "
    f"AS INT) div {DD_SUBS} + 4) "
    f"+ ((bucket - {DD_EXACT_MAX + 1}) % {DD_SUBS}) "
    f"* shiftleft(CAST(1 AS BIGINT), CAST((bucket - {DD_EXACT_MAX + 1}) "
    f"AS INT) div {DD_SUBS} + 1)) "
    f"+ shiftleft(CAST(1 AS BIGINT), CAST((bucket - {DD_EXACT_MAX + 1}) "
    f"AS INT) div {DD_SUBS} + 1)"
    f") / 2.0 END"
)


def dd_quantiles(regs: DataFrame) -> DataFrame:
    """Quantile estimates from sketch state: (grp, q, est_value, n), for
    q in 0.5, 0.9 and 0.99.

    For each q the estimate is the midpoint of the first bucket whose
    cumulative count reaches ceil(q*n) (the inverted-CDF rank). The
    window scan runs over BUCKET rows (bounded per group), never over
    the data — this is the whole point of the sketch at 100 TB.
    """
    totals = regs.groupBy("grp").agg(F.sum("cnt").alias("n"))
    cum = regs.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("grp").orderBy("bucket")),
    )
    qlits = F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q")
    ranked = (
        cum.join(totals, "grp")
        .select("grp", "bucket", "cum", "n", qlits)
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("grp", "q", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    return ranked.select(
        "grp",
        "q",
        F.expr(_DD_EST_SQL).alias("est_value"),
        F.col("n").cast("long").alias("n"),
    )


def dd_sketch_quantiles(df: DataFrame, group_col: str) -> DataFrame:
    """One-shot: histogram + quantile estimates of ``n_chars`` in a single
    plan."""
    return dd_quantiles(dd_buckets(df, group_col))


def hll_accuracy(df: DataFrame) -> DataFrame:
    """Estimate vs exact distinct ``text`` per ``lang`` — the self-audit
    query shape.

    The exact side is the expensive path (full distinct shuffle); running
    both on a SAMPLE slice is how production validates the sketch before
    trusting it corpus-wide. rel_err is rounded to 4dp from two exact
    longs (deterministic).
    """
    est = hll_distinct(df, "lang", "text")
    exact = (
        df.groupBy(F.col("lang").alias("grp"))
        .agg(F.countDistinct("text").alias("exact_distinct"))
    )
    joined = est.join(exact, "grp")
    return joined.select(
        "grp",
        "est_distinct",
        "exact_distinct",
        "registers_used",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )
