"""Deduplication operators for training-data pipelines.

The reference's dedup is exact key-dedup of document base-names
(``set()`` of filename prefixes, one_key_process.py:820-826 — SURVEY §2.6 U1).
At corpus scale that generalizes to the family below. Shuffle discipline:

- exact:   ONE shuffle (groupBy fingerprint).
- minhash: signatures computed JVM-side with array expressions (no shuffle,
  no Python); candidate generation = explode bands -> ONE shuffle on
  (band, band signature slice); verification joins shingle arrays only for
  candidate pairs (sort-merge join on doc ids). The hash family is
  md5-based universal hashing, so the whole pipeline is SQL-replayable.
- simhash: one Arrow-vectorized pandas UDF (numpy bit-packing) over
  JVM-canonicalized tokens with md5-based token hashes (SQL-replayable,
  like minhash), then a band-bucket shuffle like minhash.
- embedding near-dup: cosine >= threshold within LSH buckets (see
  operators/similarity.py for the bucketing).

Every candidate-pair path here (minhash and simhash bands, the
token-jaccard prefix join, and both sides of ``lsh_recall_audit``) is the
one equi-self-join :func:`_self_join_pairs`: ids sharing a key, oversized
key groups optionally dropped first, ``id_a < id_b``, distinct. The minhash
and simhash band rows come from the one banding step :func:`_band_rows`,
and every shingle-set verification (here and in ``incremental``) is
:func:`shingle_jaccard`.

At 100 TB: minhash bands replace the O(n^2) pair space with per-bucket
pairs; skewed buckets (boilerplate-heavy corpora) are handled by AQE skew
join + the deterministic salt in plans/partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text import (
    canonical_words,
    fingerprint_md5,
    md5_prefix_long,
    normalized_for_fingerprint,
    ordered_collect,
)

MINHASH_PERMS = 32          # signature length
LSH_BANDS = 8               # bands of 4 -> catches jaccard >~ 0.6
LSH_MAX_BUCKET = 256        # larger LSH buckets are dropped before pairing
SHINGLE_N = 3               # word n-gram shingles

# Keep-latest registry for the signature tables the pair joins persist: a
# long-lived driver (bench loops, notebook sessions) calling these repeatedly
# would otherwise accumulate cached blocks for the session lifetime. Each call
# releases the PREVIOUS call's cache under the same key; release_cached()
# frees everything (callers own the lifetime of the latest result only).
_CACHED: dict[str, DataFrame] = {}


def _persist_scoped(key: str, df: DataFrame) -> DataFrame:
    prev = _CACHED.get(key)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                return prev  # identical plan: reuse the warm cache
        except Exception:
            pass
        prev.unpersist()
    _CACHED[key] = df.persist()
    return df


def release_cached() -> None:
    while _CACHED:
        _CACHED.popitem()[1].unpersist()


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct canonical text with the
    keeper id (min id — deterministic first-match-wins, the reference's
    ``matching_files[0]`` tie-break, one_key_process.py:871-874)."""
    return (
        df.select(fingerprint_md5("text").alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingles():
    """Word n-gram shingle array of the ``text`` column, all JVM-side:
    lower -> split -> transform over index range (no Python, no explode)."""
    toks = canonical_words("text")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE_N, F.lit(0)))
    return F.when(n < SHINGLE_N, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_N))
        )
    )


# Universal-hash minhash family: h_i(x) = (a_i * (base(x) mod P) + b_i) mod P
# over the Mersenne prime P = 2^31 - 1, with base(x) = the first 32 bits of
# md5(x) and fixed seeded a_i in [1, P-1], b_i in [0, P-1]. Chosen over an
# engine-native hash (xxhash64) because every piece — md5, substr, hex->int,
# integer arithmetic — exists verbatim in ANSI SQL/DuckDB, so the whole LSH
# pipeline has an exact oracle twin.
#
# P MUST be small relative to a_i * x so the mod wraps many times: an earlier
# revision used P = 2^61 - 1 with a_i < 2^30, where a_i*x + b_i < 2^62 wraps
# AT MOST ONCE — the map is then order-preserving on nearly all of the
# domain, every "permutation" selects the same argmin shingle, and the 32
# signature slots collapse to ~2 independent ones (measured: 16/32 agreement
# on a jaccard-0.87 pair where theory wants ~28/32). With P = 2^31 - 1 and
# full-range coefficients the products wrap ~a_i times and the family is the
# standard Carter-Wegman construction; a_i * (x mod P) + b_i < 2^62 still
# fits signed 64-bit in both engines.
_MH_P = (1 << 31) - 1


def _mh_constants() -> list[tuple[int, int]]:
    import random

    rng = random.Random(1234567)
    return [(rng.randrange(1, _MH_P), rng.randrange(0, _MH_P))
            for _ in range(MINHASH_PERMS)]


MINHASH_AB = _mh_constants()


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       extra: tuple = ()) -> DataFrame:
    """(id, [extra...], shingles, sig: array<long>[MINHASH_PERMS]) — min over
    per-perm hashes of the ``text`` column's shingles. ``extra`` columns
    (e.g. a fingerprint) ride along in the same single map pass.

    One md5 per shingle; the perm family is linear arithmetic over that base
    hash. Entirely expression-level: computing a signature is a map stage
    with zero shuffle and zero Python.
    """
    base = df.select(
        F.col(id_col), *extra, _shingles().alias("shingles")
    ).withColumn("bh", F.transform(F.col("shingles"), lambda s: md5_prefix_long(s, 8)))

    def perm(a: int, b: int):
        # closure factory: pyspark infers lambda arity from the FULL python
        # signature, so default-arg captures would mis-declare a 3-ary lambda
        return lambda h: (F.lit(a) * (h % F.lit(_MH_P)) + F.lit(b)) % F.lit(_MH_P)

    sig = F.array(
        *[F.array_min(F.transform(F.col("bh"), perm(a, b))) for a, b in MINHASH_AB]
    ).alias("sig")
    keep = [c for c in base.columns if c != "bh"]
    return base.select(*keep, sig)


def _band_rows(sigs: DataFrame, id_col, buckets: list) -> DataFrame:
    """(id, band, bucket) rows: one per entry of ``buckets``, band ``b``
    keyed by ``buckets[b]`` — the banding step of both LSH families."""
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[F.struct(F.lit(b).alias("band"), k.alias("bucket"))
                  for b, k in enumerate(buckets)]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _self_join_pairs(rows: DataFrame, keys: list, cap: int | None) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b over the ``(id, *keys)`` rows
    that share every key: the candidate-pair join of the whole
    near-duplicate family. With a ``cap``, key groups of fewer than 2 or
    more than ``cap`` ids are dropped before pairing — a group of k ids
    contributes k^2/2 pairs, so boilerplate-identical buckets would
    otherwise quadratic-bomb one partition."""
    if cap is not None:
        kept = (
            rows.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .where((F.col("n") > 1) & (F.col("n") <= cap))
            .select(*keys)
        )
        rows = rows.join(kept, keys, "left_semi")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    return (
        rows.alias("l")
        .join(rows.alias("r"), on + [F.col("l.id") < F.col("r.id")])
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def shingle_jaccard(a: str, b: str):
    """Exact jaccard of two distinct-shingle array columns, rounded to 4
    places: the one verification of every minhash pair path, so the batch
    pass, its recall audit and the incremental gate (and their SQL twins)
    agree on every boundary pair."""
    return F.round(
        F.size(F.array_intersect(a, b)).cast("double")
        / F.size(F.array_union(a, b)).cast("double"),
        4,
    )


def band_buckets(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) rows from a signature table (``sig`` array<long>).

    Bucket key = xxhash64 over the band's signature slice: ONE long per
    row through the candidate join (array-valued keys would force Spark
    into sort-based aggregation/SMJ — measured 5x slower). The OUTPUT is
    bucket-agnostic (pairs are verified with exact jaccard), and the
    engine's signatures equal the oracle's md5-family signatures, so the
    oracle's raw-slice buckets induce the same partitioning — a 2^-64
    hash collision could only merge two buckets, never split one.

    Works on freshly-computed signatures AND on a signature table read back
    from storage — the incremental-ingest path derives committed buckets
    from persisted ``sig`` arrays without touching committed text."""
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    return _band_rows(sigs, F.col(id_col).alias("id"), [
        F.xxhash64(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
        for b in range(LSH_BANDS)
    ])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    threshold: float,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified with
    exact shingle-set jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b
    and jaccard >= threshold.

    Shuffle discipline (the part that matters at 100 TB):
    - the band self-join carries ONLY (id, band, bucket) — the heavy shingle
      arrays never enter the O(pairs) join; they are re-joined afterwards for
      just the deduplicated candidate set;
    - buckets larger than ``LSH_MAX_BUCKET`` docs are dropped before pairing
      (a bucket of k docs contributes k^2 pairs; boilerplate-identical pages
      would otherwise quadratic-bomb one partition). Deterministic cap, and
      near-dup recall for dropped buckets is recovered by their OTHER bands.
    """
    sigs = _persist_scoped(
        "minhash_sigs", minhash_signatures(df, id_col)
    )

    cand = _self_join_pairs(
        band_buckets(sigs, id_col=id_col), ["band", "bucket"], LSH_MAX_BUCKET
    )

    sh = sigs.select(F.col(id_col).alias("id"), F.array_distinct("shingles").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    verified = (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            shingle_jaccard("a.sh", "b.sh").alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def lsh_recall_audit(df: DataFrame) -> DataFrame:
    """One-row self-audit of the banded-LSH candidate generator against
    EXACT shingle-jaccard ground truth: (n_truth, n_cand, n_hit, recall,
    precision). recall = truth pairs the band join surfaced; precision =
    candidate pairs that really are >= 0.5.

    Ground truth is exact, not sampled: every pair with jaccard > 0
    shares >= 1 shingle, so the shingle-hash inverted-index join
    enumerates ALL such pairs, then exact set jaccard filters to
    >= 0.5. That join is O(sum df^2) over shingle document
    frequencies — quadratic on boilerplate shingles BY DESIGN (it is the
    brute-force baseline the LSH exists to avoid); at corpus scale this
    audit runs on a stratified sample, not the full table. The candidate
    side is the production path itself (the same ``band_buckets`` and
    capped :func:`_self_join_pairs` call as ``minhash_lsh_pairs``), so the
    reported recall prices the cap's true cost instead of an idealized
    uncapped join.
    """
    sigs = minhash_signatures(df)

    # exact ground truth: inverted index on shingle hashes -> pair gen
    shh = sigs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(F.transform("shingles", lambda s: md5_prefix_long(s, 8)))
        ).alias("shh"),
    )
    tc = _self_join_pairs(shh, ["shh"], None)
    dsh = sigs.select(F.col("doc_id").alias("id"), F.array_distinct("shingles").alias("sh"))
    truth = (
        tc.join(dsh.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(dsh.alias("b"), F.col("id_b") == F.col("b.id"))
        .select("id_a", "id_b", shingle_jaccard("a.sh", "b.sh").alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )

    # the production candidate set: minhash_lsh_pairs' own band join
    cand = _self_join_pairs(band_buckets(sigs), ["band", "bucket"], LSH_MAX_BUCKET)

    t = truth.select("id_a", "id_b", F.lit(1).alias("in_truth"))
    c = cand.select("id_a", "id_b", F.lit(1).alias("in_cand"))
    both = t.join(c, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce("in_truth", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("in_cand", F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.when(F.col("in_truth").isNotNull() & F.col("in_cand").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_hit"),
    ).select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.round(
            F.when(F.col("n_truth") == 0, F.lit(1.0)).otherwise(
                F.col("n_hit").cast("double") / F.col("n_truth").cast("double")
            ),
            4,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_cand") == 0, F.lit(1.0)).otherwise(
                F.col("n_hit").cast("double") / F.col("n_cand").cast("double")
            ),
            4,
        ).alias("precision"),
    )


def _distinct_tokens(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(canonical_words("text"))
        ).alias("tok"),
    ).where(F.col("tok") != "")


TOKEN_JACCARD_THRESHOLD = 0.8   # token_jaccard_pairs keeps pairs at or above


def token_jaccard_pairs(df: DataFrame) -> DataFrame:
    """EXACT distinct-token jaccard pairs at ``jaccard >=
    TOKEN_JACCARD_THRESHOLD`` (read at call time) via
    prefix filtering (Bayardo et al. AllPairs / PPJoin): order every
    document's tokens by ascending global document frequency (ties by
    token — one total order both for pruning and determinism), and join
    only on each document's first ``n - ceil(t*n) + 1`` tokens. The
    classic prefix-filter theorem makes this candidate set COMPLETE: if
    J(A,B) >= t, the two prefixes under a shared total order must
    intersect — so exactness is preserved while the join never touches a
    document's common-token tail. Candidates are then verified exactly
    with ``array_intersect`` over the full distinct-token arrays.

    Why this shape at 100 TB: the naive formulation (join on EVERY shared
    token) is quadratic in token document-frequency — one stopword shared
    by k documents alone emits k^2/2 join rows (measured at sf0.1: 80.9 s
    naive vs 51.6 s for this plan, identical output). At sf0.1 this plan
    is output-bound, not join-bound: the answer itself is about 3M true
    pairs on the dense synthetic corpus. Prefixes are the RAREST
    tokens, so join groups stay small by construction; the exact-verify
    join carries token arrays only for surviving candidate pairs. The
    equivalence to the naive plan is pinned row-for-row by tests, and the
    DuckDB oracle deliberately keeps the naive relational formulation —
    exactness means any correct algorithm hash-matches it.

    Shuffle-width discipline: tokens travel as xxhash64 LONGS from the
    first shuffle on — the doc-frequency agg, the prefix join, and the
    verify arrays all carry 8 bytes/token instead of string payloads (a
    64-bit collision between two distinct tokens co-occurring in one
    candidate pair is the only way this differs from string identity —
    vocabulary-scale probability ~2^-40, and the exact oracle parity test
    would catch it)."""
    threshold = TOKEN_JACCARD_THRESHOLD
    toks = _distinct_tokens(df).select(
        "id", F.xxhash64("tok").alias("tok")
    )
    docfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    arrs = (
        toks.join(docfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tok_df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n_tok", F.size("toks"))
    )
    prefix_len = (
        F.col("n_tok")
        - F.ceil(F.lit(float(threshold)) * F.col("n_tok")).cast("int")
        + 1
    )
    pref = arrs.select(
        "id", F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("tok")
    )
    cand = _self_join_pairs(pref, ["tok"], None)
    a = arrs.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"),
                    F.col("n_tok").alias("n_a"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"),
                    F.col("n_tok").alias("n_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter.cast("double")
                / (F.col("n_a") + F.col("n_b") - inter).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document via one Arrow-vectorized pandas UDF
    (numpy bit voting — the justified Python hot path: 64 bitwise
    aggregations per token don't fit expression form).

    Tokens are computed JVM-side with the shared canonical tokenizer
    (``normalized_for_fingerprint`` split on single spaces), and the
    per-token hash is the first 64 bits of md5 (big-endian) — the same
    portable family minhash uses — so the full signature is replayable
    in ANSI SQL: ``('0x' || substr(md5(tok), 1, 16))::UBIGINT`` yields
    the identical hash in DuckDB and the bit voting is a 64-way
    unnest + sum. The exact twin lives in ``__spark_entry__._simhash_oracle``.
    """
    import hashlib

    @F.pandas_udf(LongType())
    def _simhash(tok_arrays: "pd.Series") -> "pd.Series":
        # per-batch memo: corpus vocabularies repeat heavily across
        # documents, so hash each distinct token once per Arrow batch
        memo: dict[str, int] = {}

        def th(t: str) -> int:
            h = memo.get(t)
            if h is None:
                h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                memo[t] = h
            return h

        out = np.zeros(len(tok_arrays), dtype=np.int64)
        for i, toks in enumerate(tok_arrays):
            if toks is None or len(toks) == 0:
                continue
            hs = np.array([th(t) for t in toks], dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for j in range(64):
                if votes[j] > 0:
                    sig |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    toks = F.filter(canonical_words("text"), lambda x: x != "")
    return df.select(F.col("doc_id"), _simhash(toks).alias("simhash"))


CONTAM_NGRAM = 8            # token n-gram length for decontamination
CONTAM_MAX_DF = 64          # benchmark grams in more docs are boilerplate


def contamination_check(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    token ``CONTAM_NGRAM``-gram with any benchmark document — the standard
    training-data hygiene pass (a benchmark answer string memorized
    verbatim in the corpus shows up as a long shared n-gram).

    Shape: n-gram both sides with the shared canonicalizer, hash each gram
    to ONE long (the md5-portable base hash, so the SQL twin replays it),
    equi-join corpus grams against the (small) benchmark gram set —
    broadcast when it fits — and aggregate matches per corpus document.
    ``CONTAM_MAX_DF`` drops grams that appear in more than that many BENCHMARK
    docs first: corpus-common boilerplate phrases are not evidence of
    contamination and would fan the join out quadratically.

    Returns (doc_id, n_matched_grams, n_bench_docs) per contaminated
    corpus document.
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = canonical_words("text")
        cnt = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(cnt - CONTAM_NGRAM, F.lit(0)))
        arr = F.when(cnt < CONTAM_NGRAM, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, CONTAM_NGRAM)))
        )
        return df.select(
            F.col("doc_id").alias(out_id), F.explode(arr).alias("gram")
        ).select(out_id, md5_prefix_long("gram", 8).alias("g"))

    bench = grams(benchmark, "bench_id").distinct()
    rare = (
        bench.groupBy("g").agg(F.count(F.lit(1)).alias("bdf"))
        .where(F.col("bdf") <= CONTAM_MAX_DF)
        .select("g")
    )
    bench = bench.join(rare, "g", "left_semi")
    hits = grams(corpus, "doc_id").distinct().join(bench, "g")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_matched_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


SIMHASH_BANDS = 4           # 16-bit bands: hamming <= 3 guarantees a shared band
SIMHASH_MAX_HAMMING = 3     # simhash_pairs keeps pairs at most this far apart


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-duplicate pairs from 64-bit SimHash signatures via hamming-band
    LSH: the signature splits into ``SIMHASH_BANDS`` equal bit-slices (JVM-side
    shiftright + mask), pairs sharing any slice are candidates, and
    candidates are verified with the exact popcount hamming distance
    (``bit_count(a XOR b) <= SIMHASH_MAX_HAMMING``, read at call time).
    Pigeonhole guarantee: any pair with hamming < ``SIMHASH_BANDS`` shares
    at least one band, so recall is exact for ``SIMHASH_MAX_HAMMING <=
    SIMHASH_BANDS - 1``.

    Same shuffle discipline as minhash: the band join carries only
    (id, band, bucket) longs; buckets with more than ``LSH_MAX_BUCKET`` members
    are dropped before pairing (identical-signature floods — e.g. empty
    documents, all-zero signatures — are exact-dedup's job, not simhash's).
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    width = 64 // SIMHASH_BANDS
    mask = (1 << width) - 1
    max_hamming = SIMHASH_MAX_HAMMING
    sigs = simhash64(df).select(
        F.col("doc_id").alias("id"), F.col("simhash")
    )
    sigs = _persist_scoped("simhash_sigs", sigs)

    banded = _band_rows(sigs, "id", [
        F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
        for b in range(SIMHASH_BANDS)
    ])
    cand = _self_join_pairs(banded, ["band", "bucket"], LSH_MAX_BUCKET)
    a = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


WINNOW_K = 8            # char k-gram length
WINNOW_WINDOW = 4       # winnowing window (guarantee: any match >= k+w-1 chars detected)
_POLY_B = 1_000_003
_POLY_MASK = (1 << 61) - 1


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer/Wilkerson/
    Aiken): polynomial rolling hash over char ``WINNOW_K``-grams, then keep
    the rightmost minimum of each ``WINNOW_WINDOW`` of consecutive hashes. Output one
    row per document with the sorted distinct fingerprint array — two
    documents sharing any substring of length >= k+window-1 share a
    fingerprint, which is the local-match guarantee exact dedup and token
    sets lack. Arrow-vectorized pandas UDF (numpy sliding-window argmin).

    The hash input is the JVM-side canonical text
    (``normalized_for_fingerprint`` — the same expression every dedup
    oracle replays as ``trim(regexp_replace(lower(text),'[ \\t\\n]+',' '))``),
    and the polynomial hash is plain modular arithmetic, so the whole
    fingerprint set is SQL-replayable: per-position k-gram hashes via
    inlined powers of B mod 2^61-1, winnowing via a rightmost-argmin
    window function. Exact twin: ``__spark_entry__._winnow_pairs_oracle``.
    """
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def _winnow(texts: "pd.Series") -> "pd.Series":
        k, window = WINNOW_K, WINNOW_WINDOW
        out = []
        for t in texts:
            s = t or ""
            n = len(s)
            if n < k:
                out.append([])
                continue
            # polynomial hash of every k-gram in O(n): prefix hashes mod
            # 2^61-1, h(s[i:i+k]) = (pref[i+k] - pref[i]*B^k) mod M.
            # Python ints on purpose: numpy uint64 would overflow acc*B
            # before the mod and silently corrupt the hash.
            pref = [0] * (n + 1)
            acc = 0
            for i, ch in enumerate(s):
                acc = (acc * _POLY_B + ord(ch)) % _POLY_MASK
                pref[i + 1] = acc
            bk = pow(_POLY_B, k, _POLY_MASK)
            grams = np.array(
                [(pref[i + k] - pref[i] * bk) % _POLY_MASK for i in range(n - k + 1)],
                dtype=np.uint64,
            )
            if len(grams) <= window:
                out.append(sorted({int(grams.min())}))
                continue
            # rightmost-min per window via reversed sliding_window argmin
            win = np.lib.stride_tricks.sliding_window_view(grams, window)
            rev_arg = window - 1 - np.argmin(win[:, ::-1], axis=1)
            picked = grams[rev_arg + np.arange(len(win))]
            out.append(sorted({int(x) for x in picked}))
        return pd.Series(out)

    return df.select(
        F.col("doc_id"),
        _winnow(normalized_for_fingerprint("text")).alias("fingerprints"),
    )


def winnow_pairs(df: DataFrame) -> DataFrame:
    """Candidate near-dup pairs sharing >= 2 winnow fingerprints:
    explode -> fingerprint equi-join -> count (the content-overlap join;
    at scale the exploded table is (id, fp) longs only).

    Fingerprints present in more than 16 documents are dropped
    before the self-join — corpus-common k-grams (boilerplate phrases,
    small shared vocabularies) are not discriminative and their buckets
    join quadratically (the hot-bucket guard, same shape as the capped LSH
    buckets in minhash_lsh_pairs; measured 40x on the sf0.1 suite)."""
    fps = winnow_fingerprints(df)
    flat = fps.select(F.col("doc_id").alias("id"), F.explode("fingerprints").alias("fp"))
    # three downstream references (df-count, both join sides) would re-run
    # the fingerprint UDF; persist the (id, fp) longs instead — at corpus
    # scale this is the signatures table you'd materialize anyway
    flat = _persist_scoped("winnow_flat", flat)
    rare = (
        flat.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 16)
        .select("fp")
    )
    flat = flat.join(rare, "fp")  # semi-shaped: keep discriminative fps only
    a, b = flat.alias("a"), flat.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


def _drop_hot_units(units: DataFrame, hot: DataFrame, key, unit: str,
                    sep: str, group: list) -> DataFrame:
    """The removal half of the boilerplate family: left-join the
    ``(id, pos, unit)`` rows to the ``hot`` key set on ``key``, drop every
    hot non-blank unit (blank units are structure, never dropped) and
    reassemble each ``group``'s survivors in pos order joined by ``sep``.
    Returns (*group, text, n_units, n_dropped)."""
    kept = units.join(hot.withColumn("hot", F.lit(True)), key, "left").withColumn(
        "drop", F.col("hot").isNotNull() & (F.trim(unit) != "")
    )
    survivor = F.when(~F.col("drop"), F.struct(F.col("pos"), F.col(unit)))
    return kept.groupBy(*group).agg(
        F.array_join(ordered_collect(survivor, unit), sep).alias("text"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.col("drop").cast("long")).alias("n_dropped"),
    )


def _text_lines():
    """The ``text`` column split into lines, shared by the line passes.
    ``\\r?\\n``: CRLF documents would otherwise carry a trailing \\r on
    every line — Spark trim strips spaces only, so "blank" lines ('\\r')
    would count as content and the same line would hash differently in
    CRLF vs LF documents. coalesce: ``split(NULL)`` is NULL, which
    posexplodes to zero rows and would silently DROP a NULL-text document
    from the output — every document must come back."""
    return F.split(F.coalesce(F.col("text"), F.lit("")), "\r?\n")


LINE_MAX_DF = 16        # lines in more docs than this are boilerplate


def line_dedup(df: DataFrame) -> DataFrame:
    """Sub-document boilerplate removal (the CCNet/RefinedWeb line-dedup
    pass): a LINE that appears in more than ``LINE_MAX_DF`` documents is
    boilerplate (nav text, cookie banners, footers) and is removed from
    EVERY document; surviving lines reassemble in original order.
    Returns (id, text, n_lines, n_dropped).

    Shape: posexplode lines -> doc-frequency count keyed on the 60-bit
    md5 hash of the trimmed line (15 hex digits: the largest md5 prefix
    whose conv()-to-decimal stays inside signed 64-bit in both engines;
    the count and the removal join carry (long, long) rows, never line
    strings, across the shuffle; a 60-bit collision could at worst drop
    one innocent line — acceptable for a boilerplate filter and
    disclosed here) -> left-anti join against hot lines -> ordered
    re-aggregation per document. Empty/whitespace-only lines are
    structural, not content: they are never counted and never dropped.
    Exactly SQL-replayable (``__spark_entry__._line_dedup_oracle``)."""
    lh = md5_prefix_long(F.trim(F.col("line")), 15)
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(_text_lines()).alias("pos", "line"),
    ).withColumn("lh", lh)

    hot = (
        lines.where(F.trim("line") != "")
        .groupBy("lh")
        .agg(F.countDistinct("id").alias("ldf"))
        .where(F.col("ldf") > LINE_MAX_DF)
        .select("lh")
    )
    return _drop_hot_units(lines, hot, "lh", "line", "\n", ["id"]).select(
        F.col("id").alias("doc_id"), "text",
        F.col("n_units").alias("n_lines"), "n_dropped",
    )


def host_line_dedup(df: DataFrame) -> DataFrame:
    """PER-HOST boilerplate removal (the site-chrome half of RefinedWeb's
    line cleaning; :func:`line_dedup` is the corpus-GLOBAL half): a line
    is host-boilerplate when its host has at least 5 pages AND the line
    appears on more than half of them — nav bars, cookie banners, and
    footer chrome repeat across one SITE's pages, not across the whole
    web, so a global document-frequency cutoff either misses them (threshold too high) or nukes legitimately
    common sentences (too low). Returns (id, host, text, n_lines,
    n_dropped); surviving lines reassemble in original order; every
    document comes back (NULL text included).

    Shape: the corpus crosses the shuffle once as (host-hash long,
    line-hash long, id, pos) rows; the hot set is keyed (host, line)
    — counted with the same 60-bit md5 family as line_dedup — and is
    bounded by (hosts × per-host chrome lines), tiny next to the corpus;
    the removal is a left join on the two longs. Host page counts come
    from a countDistinct per host (hosts ≪ documents). Exactly
    SQL-replayable (``__spark_entry__._host_line_dedup_oracle``)."""
    hh = md5_prefix_long("host", 15)
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.col("host"),
        hh.alias("hh"),
        F.posexplode(_text_lines()).alias("pos", "line"),
    ).withColumn("lh", md5_prefix_long(F.trim(F.col("line")), 15))

    host_pages = (
        df.groupBy(F.col("host"))
        .agg(F.countDistinct("doc_id").alias("n_pages"))
        .select(hh.alias("hh"), "n_pages")
    )
    hot = (
        lines.where(F.trim("line") != "")
        .groupBy("hh", "lh")
        .agg(F.countDistinct("id").alias("ldf"))
        # no broadcast hint on purpose: at crawl scale the host table is
        # 10^7-10^8 rows — AQE broadcasts it when it fits, shuffles two
        # (long, long) tables when it doesn't; both sides are already
        # aggregates, far smaller than the corpus
        .join(host_pages, "hh")
        .where(
            (F.col("n_pages") >= 5)
            & (F.col("ldf") > F.col("n_pages") * 0.5)
        )
        .select("hh", "lh")
    )
    return _drop_hot_units(lines, hot, ["hh", "lh"], "line", "\n", ["id", "host"]).select(
        F.col("id").alias("doc_id"), F.col("host"), "text",
        F.col("n_units").alias("n_lines"), "n_dropped",
    )


def collapse_repeated_lines(df: DataFrame) -> DataFrame:
    """WITHIN-document repeated-line removal (the intra-page half of the
    RefinedWeb/C4 line cleaning; :func:`line_dedup` is the cross-corpus
    half): every non-blank line keeps only its FIRST occurrence inside the
    document; blank/whitespace-only lines are structure and always stay.
    Returns (doc_id, text, n_lines, n_removed) — one row per input
    row, text reassembled in original order.

    Shape: a zero-shuffle, zero-Python per-row projection — the dedupe is
    a single ``filter`` lambda over the split array (element i survives if
    blank or not present in the preceding slice), evaluated JVM-side.
    Per-row cost is O(lines^2) string compares in the worst case, bounded
    by document size, embarrassingly parallel, streaming-safe — no state,
    no exchange at any scale. Replayed expression-for-expression in the
    DuckDB twin (same index-lambda + prefix-slice semantics)."""
    arr = _text_lines()
    kept = F.filter(
        arr,
        lambda x, i: (F.trim(x) == "")
        | ~F.exists(F.slice(arr, F.lit(1), i), lambda y: y == x),
    )
    # the lambda-bearing column is materialized behind a projection
    # boundary and downstream expressions reference it by NAME: placing
    # two copies of a nested index-lambda expression in one Project
    # miscounts under Spark 4.1's subexpression handling (observed:
    # size(kept) off by one when kept appears twice in a select) —
    # pinned by test_collapse_repeated_lines_counts
    mid = df.select(
        F.col("doc_id"), arr.alias("_lines"), kept.alias("_kept")
    )
    return mid.select(
        F.col("doc_id"),
        F.array_join("_kept", "\n").alias("text"),
        F.size("_lines").cast("long").alias("n_lines"),
        (F.size("_lines") - F.size("_kept")).cast("long").alias("n_removed"),
    )


def latest_capture(df: DataFrame) -> DataFrame:
    """Cross-dump recrawl resolution: a crawl corpus holds many CAPTURES
    of the same page (one per dump); training wants exactly one — the
    newest. Group by the CANONICAL url (scheme/host case, www., userinfo,
    default port, utm and param order must not split a page into fake
    'distinct' urls — functions/urls.py) and keep the capture with the
    greatest (ts, id) — the id tie-break makes same-second recrawls
    deterministic. Returns (url_canon, keep_id, n_captures, latest_ts).

    Shape: one hash aggregation on the canonical key — max_by and count
    combine map-side, so each partition forwards one row per canonical
    url it saw, never the capture payloads. At 10^12 captures this is the
    same partial-agg scan shape as exact_dedup_groups; no window, no sort."""
    from ..functions.urls import url_canonicalize

    return (
        df.groupBy(url_canonicalize(F.col("url")).alias("url_canon"))
        .agg(
            F.max_by(
                F.col("doc_id"), F.struct(F.col("warc_ts"), F.col("doc_id"))
            ).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_captures"),
            F.max("warc_ts").alias("latest_ts"),
        )
    )


PARA_MAX_DF = 8         # paragraphs in more docs than this are boilerplate


def paragraph_dedup(df: DataFrame) -> DataFrame:
    """Paragraph-granularity boilerplate removal — the CCNet dedup unit
    (its shard pass hashes PARAGRAPHS, not lines): a paragraph whose
    CANONICAL form (lowercased, whitespace collapsed — reflows and
    indentation changes must not split identities the way the line
    pass's trim-only identity would) appears in more than ``PARA_MAX_DF``
    documents (read at call time) is removed from every document;
    survivors reassemble in original order joined by blank lines. Completes the granularity
    ladder: document (exact_dedup_groups) / span (dup_spans) / paragraph (here)
    / line (line_dedup). Returns (id, text, n_paras, n_dropped).

    Shape: identical to :func:`line_dedup` — the df count and removal
    join carry (long, long) rows keyed on the 60-bit md5 of the
    canonical paragraph. CRs are stripped up front so CRLF and LF
    documents split identically. Empty/whitespace-only paragraphs are
    structural: never counted, never dropped. Exactly SQL-replayable
    (``__spark_entry__._paragraph_dedup_oracle``)."""
    ph = md5_prefix_long(normalized_for_fingerprint(F.col("para")), 15)
    paras = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")), "\r", ""
                ),
                "\n{2,}",
            )
        ).alias("pos", "para"),
    ).withColumn("ph", ph)

    hot = (
        paras.where(F.trim("para") != "")
        .groupBy("ph")
        .agg(F.countDistinct("id").alias("pdf"))
        .where(F.col("pdf") > PARA_MAX_DF)
        .select("ph")
    )
    return _drop_hot_units(paras, hot, "ph", "para", "\n\n", ["id"]).select(
        F.col("id").alias("doc_id"), "text",
        F.col("n_units").alias("n_paras"), "n_dropped",
    )


COMMON_NGRAMS_TOP = 20  # common_ngrams' profile length, shared with its twin


def common_ngrams(df: DataFrame) -> DataFrame:
    """Corpus n-gram profile: the top ``COMMON_NGRAMS_TOP`` word 8-grams by
    document frequency — the tuning instrument for every gram-threshold in
    this engine (span-dedup min_df, contamination max_df, boilerplate
    ratios): you look at THIS table before picking them. Returns
    (gh, df_docs, example) ordered by (df_docs desc, gh asc).

    Shape: the gram stream is the shared span-family projection; the
    aggregate is keyed on the 60-bit gram hash with min(gram text) kept
    as the human-readable representative — one string per (partition,
    hash) survives the map-side combine, so full gram text never floods
    the shuffle; the result is a TakeOrderedAndProject top-k. Exactly
    SQL-replayable (``__spark_entry__._common_ngrams_oracle``)."""
    toks = canonical_words(F.coalesce(F.col("text"), F.lit("")))
    grams = (
        df.select(F.col("doc_id").alias("id"), toks.alias("toks"))
        .where(F.size("toks") >= 8)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 8),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 8)),
                )
            ).alias("gram"),
        )
    )
    gh = md5_prefix_long("gram", 15)
    return (
        grams.withColumn("gh", gh)
        .groupBy("gh")
        .agg(
            F.count_distinct("id").alias("df_docs"),
            F.min("gram").alias("example"),
        )
        .orderBy(F.desc("df_docs"), F.asc("gh"))
        .limit(COMMON_NGRAMS_TOP)
    )
