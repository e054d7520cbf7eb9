"""Z-order (Morton) layout clustering for multi-column file skipping.

A table laid out by ONE sort column prunes scans on that column only:
every file's min/max on any OTHER column spans the whole domain, so a
predicate on it reads everything. Interleaving the bits of several
columns' normalized values (the Morton curve) makes file locality track
ALL of them at once — each file covers a small hyper-rectangle, its
footer min/max is tight on every clustered column, and the iceberg-lite
manifest range pruning (`sources/iceberg_lite.select_entries`) skips
most files for a predicate on ANY clustered column. This is Delta/
Iceberg `OPTIMIZE ZORDER BY`, re-expressed over the repo's own table
format.

At 100 TB this is a WRITE-side investment exactly like bucketing
(`plans/partitioning.write_bucketed`): pay one clustered rewrite, then
every selective scan on any clustered column reads a fraction of the
files forever after. The z-key is expression-only integer arithmetic
(min/max normalize -> bit interleave), so the clustering write is one
range exchange, no Python, no extra scan beyond one bounded min/max agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.iceberg_lite import IcebergLiteTable

ZORDER_BITS = 16  # per-column resolution; 2 cols x 16 bits = 32-bit z key


def zorder_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add a ``_z`` Morton key interleaving the bit patterns of ``cols``.

    Each column is min/max-normalized to ``ZORDER_BITS`` bits (one bounded agg
    collected to the driver — len(cols) scalars, the same probe
    discipline as tfidf's corpus count), then bit b of column c lands at
    z-bit ``b*len(cols)+c``. Constant columns normalize to 0. NULLs sort
    first (normalized 0). ``ZORDER_BITS * len(cols)`` must be at most 63
    (the key is a non-negative long), so more than three columns raise
    ValueError.

    Safety: only NUMERIC columns are accepted (fail-fast ValueError for
    date/string/etc — their min/max cannot be interpolated into
    arithmetic), and normalization runs in DOUBLE space built with Column
    arithmetic, never SQL-text interpolation of data-derived values:
    ``(c - mn) * 65535`` in BIGINT silently overflows for wide int64
    domains (e.g. hash-valued columns) and scrambles the key, while a
    double keeps the 16 bucket bits exact (53-bit mantissa) for any
    domain width. The result is clamped to [0, 2^ZORDER_BITS-1] so float
    rounding at the domain edge cannot escape the key range."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if ZORDER_BITS * len(cols) > 63:
        # the key is a signed long: z-bit 63 is the sign and shifts past it
        # wrap, so a wider key would scramble _z instead of failing
        raise ValueError(
            f"zorder_key: {len(cols)} columns x {ZORDER_BITS} bits = "
            f"{ZORDER_BITS * len(cols)} key bits; at most 63 fit a long key "
            "(cluster on fewer columns)"
        )
    dtypes = dict(df.dtypes)
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"zorder_key: column {c!r} not in frame")
        if not dtypes[c].startswith(
            ("tinyint", "smallint", "int", "bigint", "float", "double",
             "decimal")
        ):
            raise ValueError(
                f"zorder_key: column {c!r} has non-numeric type "
                f"{dtypes[c]!r}; cast it to a numeric (e.g. unix epoch, "
                "hash, or ordinal) before clustering"
            )
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << ZORDER_BITS) - 1
    norm_cols = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mn == mx:
            norm_cols.append(F.lit(0).cast("long"))
        else:
            mn_d, span = float(mn), float(mx) - float(mn)
            v = F.coalesce(F.col(c).cast("double"), F.lit(mn_d))
            scaled = F.floor(
                (v - F.lit(mn_d)) * F.lit(float(top)) / F.lit(span)
            ).cast("long")
            norm_cols.append(
                F.least(F.lit(top).cast("long"),
                        F.greatest(F.lit(0).cast("long"), scaled))
            )
    z = F.lit(0).cast("long")
    for b in range(ZORDER_BITS):
        for ci, nc in enumerate(norm_cols):
            pos = b * len(cols) + ci
            z = z + F.shiftleft(
                F.shiftright(nc, b).bitwiseAND(F.lit(1)), pos
            ).cast("long")
    return df.withColumn("_z", z)


def write_zordered(
    df: DataFrame,
    table_root: str,
    cols: list[str],
    n_buckets: int,
) -> IcebergLiteTable:
    """Write ``df`` z-order-clustered into ``n_buckets`` prunable entries.

    The z key splits into equal z-space buckets (``_zb``); each bucket
    becomes one Hive-partition entry whose parquet-footer min/max on
    every clustered column is recorded in the manifest, so
    ``table.select_entries(ranges={col: (lo, hi)})`` prunes on any of
    them. One exchange (the partitioned write), no Python."""
    z = zorder_key(df, cols)
    # integer-divide by the bucket width (rounded up, so _zb < n_buckets):
    # ``_z * n_buckets`` overflows a long once the key is wider than
    # 63 - log2(n_buckets) bits
    width = -(-(1 << (ZORDER_BITS * len(cols))) // n_buckets)
    z = z.withColumn("_zb", F.expr(f"_z div {width}").cast("int")).drop("_z")
    t = IcebergLiteTable(table_root)
    t.overwrite(z, partition_by="_zb", stats_cols=tuple(cols))
    return t


def pruning_ratio(
    table: IcebergLiteTable, col: str, lo, hi
) -> float:
    """Fraction of manifest entries a range predicate on ``col`` keeps —
    the file-skipping effectiveness probe (lower is better)."""
    total = len(table.entries())
    kept = len(table.select_entries(ranges={col: (lo, hi)}))
    return kept / total if total else 1.0
