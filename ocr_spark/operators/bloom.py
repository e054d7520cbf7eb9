"""Blocked Bloom filter in pure relational expressions — the membership
scale path when the committed key set is too large to broadcast.

The incremental-ingest gate (operators/incremental.py) answers "is this
fingerprint already committed?" with a LEFT SEMI join against the state
table's fp projection. At 10^12 committed documents that projection is
~32 TB of md5 hex — it no longer broadcasts, so every ingest batch pays a
full shuffle of BOTH sides. The classic fix (what Spark's own runtime
row-level filtering does with its internal, non-registered
``bloom_filter_agg``) is a Bloom filter: build once at commit time,
probe map-side per batch, and only the (few) bloom-POSITIVE rows reach
the exact join. Bloom negatives are definite — a 'new' verdict from the
filter needs no confirmation — so for the common crawl case (most pages
in a fresh batch are novel) the expensive join shrinks from
O(batch) to O(duplicates + false positives).

This is a BLOCKED Bloom filter (Putze/Sanders/Singler, "Cache-, Hash- and
Space-Efficient Bloom Filters"): the bit space is an array of 64-bit
blocks; each key hashes to ONE block and sets k bits inside it. That maps
exactly onto relational primitives:

  build:  per key -> (block = h0 mod n_blocks, mask = OR of k one-bit
          longs) -> groupBy(block).agg(bit_or(mask))
  probe:  recompute (block, mask) -> join on block ->
          candidate := bits IS NOT NULL AND (bits & mask) == mask

so both sides are ordinary DataFrames: the built filter is an
(block long, bits long) table of at most n_blocks rows that Spark
broadcasts when it fits and shuffle-joins when it doesn't — either way
the probe side moves only (id, block, mask), never the payload.

Hashing is the same md5-seeded Carter-Wegman family as the minhash
pipeline (``dedup.MINHASH_AB``) — base = ``md5_prefix_long(key, 15)``, the
first 15 hex digits of md5(key), h_i = (a_i * (base mod P) + b_i) mod P over P = 2^31-1 —
chosen so every step (md5, substr, hex cast, *, +, %, <<, &, bit_or)
exists verbatim in DuckDB and the whole filter has an exact SQL twin.
Bit positions are taken mod 63 (bits 0..62) so shifted masks stay
strictly positive in both engines' signed BIGINT.

Sizing: with keys spread over n_blocks blocks at load L = n_keys /
n_blocks keys/block, a probe's false-positive rate is roughly
(1 - e^(-kL/64))^k; L ≈ 6 at k = 4 gives ~2% — good enough to kill ~98%
of the exact-join traffic for novel keys. ``BLOOM_N_BLOCKS`` is part of
the filter's identity (a build and its probes must agree on it) and is
fixed, so the 1024 blocks suit about 6k committed keys; a larger key set
needs a larger constant and a rebuilt filter.

Reference analog: the resume key-set check (one_key_process.py:820-826)
loads the committed basename set into a dict — the O(1)-membership
structure this operator rebuilds as data-parallel relational state.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_long

BLOOM_K = 4  # bits set per key (within the key's one block)
# blocks in the filter: part of its identity, shared with the DuckDB twin
# of q_bloom_gate so the bit layout cannot drift
BLOOM_N_BLOCKS = 1024
_BB_P = (1 << 31) - 1  # same Mersenne prime as the minhash family


def _bb_constants() -> list[tuple[int, int]]:
    rng = random.Random(424243)
    # BLOOM_K+1 pairs: index 0 picks the block, 1..BLOOM_K pick bits inside it
    return [(rng.randrange(1, _BB_P), rng.randrange(0, _BB_P))
            for _ in range(BLOOM_K + 1)]


BLOOM_AB = _bb_constants()


def _block_and_mask(key_col):
    """(block, mask) expression pair for one key column over
    ``BLOOM_N_BLOCKS`` blocks (read at call time). The base hash is
    the first 15 hex digits of md5 (< 2^60, the largest prefix that stays
    signed-64 in both engines); all family
    arithmetic stays non-negative so % == pmod in both engines."""
    base = md5_prefix_long(key_col, 15) % _BB_P
    hs = [(F.lit(a) * base + F.lit(b)) % _BB_P for a, b in BLOOM_AB]
    block = (hs[0] % F.lit(BLOOM_N_BLOCKS)).alias("block")
    return block, [(h % F.lit(63)).cast("int") for h in hs[1:]]


def _mask_from_positions(df: DataFrame, pos_cols: list[Column]) -> DataFrame:
    """Materialize bit positions as named columns, then fold them into one
    64-bit mask via SQL shiftleft (the Python F.shiftleft wrapper only
    accepts literal shift amounts)."""
    named = df.select(
        "*", *[p.alias(f"_p{j}") for j, p in enumerate(pos_cols)]
    )
    mask = reduce(
        Column.bitwiseOR,
        [
            F.expr(f"shiftleft(CAST(1 AS BIGINT), _p{j})")
            for j in range(len(pos_cols))
        ],
    ).alias("mask")
    return named.select(
        *[c for c in df.columns], mask
    )


def bloom_build(df: DataFrame) -> DataFrame:
    """Build the (block, bits) filter table from the ``fp`` key column. ONE
    map-side pass plus one hash aggregation on block — the partial
    bit_or combines before the shuffle, so at most BLOOM_N_BLOCKS rows
    move per input partition regardless of key count."""
    block, pos = _block_and_mask(F.col("fp"))
    # keep the key column through the mask build — the position
    # expressions reference it — then project it away before the agg
    masked = _mask_from_positions(df.select("fp", block), pos)
    return (
        masked.groupBy("block")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(df: DataFrame, bloom: DataFrame) -> DataFrame:
    """Append ``maybe_seen`` (boolean): False = the ``fp`` key is
    DEFINITELY absent from the filter's build set; True = present or false positive (verify with
    the exact join).

    The probe side carries (original columns, block, mask) into a LEFT
    join on block; the filter side is BLOOM_N_BLOCKS rows max, so AQE plans a
    broadcast at any realistic size and a shuffle join beyond it — the
    probe payload never amplifies either way."""
    block, pos = _block_and_mask(F.col("fp"))
    probed = _mask_from_positions(df.select("*", block), pos)
    return (
        probed.join(bloom, "block", "left")
        .select(
            *df.columns,
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
            ).alias("maybe_seen"),
        )
    )


def bloom_gate_exact(
    new_df: DataFrame,
    committed_keys: DataFrame,
    bloom: DataFrame,
) -> DataFrame:
    """Exact membership verdict (doc_id, seen) using the filter as a
    prefilter: bloom-negative rows are 'seen = False' with no join;
    only bloom-positive rows join ``committed_keys`` (LEFT SEMI on the
    ``fp`` key) to split true duplicates from false positives. Output is
    row-for-row over ``new_df`` — the never-drop contract."""
    probed = bloom_probe(new_df.select("doc_id", "fp"), bloom)
    pos = probed.where(F.col("maybe_seen"))
    confirmed = (
        pos.join(committed_keys.select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
        .withColumn("_s", F.lit(True))
    )
    return (
        probed.select("doc_id")
        .join(confirmed, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_s"), F.lit(False)).alias("seen"))
    )
