"""Epoch-timestamp recovery from filename-style keys (F9 analog).

The reference recovers a document's timestamp by parsing a 13-digit
epoch-milliseconds or 10-digit epoch-seconds run from the filename and
formatting it ``'%Y-%m-%d %H:%M:%S'`` (reference: one_key_process.py:850-864,
e.g. key ``1765706670749``). Here the same dispatch — 13 digits => divide by
1000, 10 digits => as-is — is pure JVM expressions (regexp_extract +
from_unixtime under the engine's pinned UTC session timezone, session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the reference's own example key, used as the synthetic base epoch
BASE_EPOCH_MS = 1_765_706_670_749
BASE_EPOCH_S = 1_765_706_670

_EPOCH_RE = r"(\d{13}|\d{10})"


def synth_filename(id_col: Column) -> Column:
    """Deterministic filename with an embedded epoch: even ids carry a
    13-digit millisecond run, odd ids a 10-digit second run — both branches
    of the reference's dispatch exercised from one key column."""
    ms = (F.lit(BASE_EPOCH_MS) + id_col * 7_919_000).cast("string")
    s = (F.lit(BASE_EPOCH_S) + id_col * 7_919).cast("string")
    stamp = F.when(id_col % 2 == 0, ms).otherwise(s)
    return F.concat(F.lit("doc_"), id_col.cast("string"), F.lit("_"), stamp, F.lit(".jpg"))


def parse_epoch_filename(df: DataFrame) -> DataFrame:
    """Extract the epoch run of the ``filename`` column and format it — one
    row out per row in, empty string when no run is found (P7: failure ->
    empty, never a dropped row)."""
    digits = F.regexp_extract(F.col("filename"), _EPOCH_RE, 1)
    sec = F.when(F.length(digits) == 13, (digits.cast("long") / 1000).cast("long")).otherwise(
        digits.cast("long")
    )
    return (
        df.withColumn(
            "ts_parsed",
            F.when(digits == "", F.lit("")).otherwise(
                F.from_unixtime(sec, "yyyy-MM-dd HH:mm:ss")
            ),
        )
        .withColumn(
            "ts_precision",
            F.when(digits == "", "none")
            .when(F.length(digits) == 13, "ms")
            .otherwise("s"),
        )
    )
