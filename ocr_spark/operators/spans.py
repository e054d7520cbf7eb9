"""Duplicated-span detection: exact cross-document substring duplication
at word n-gram granularity (the "Deduplicating Training Data" span-dedup
family — Lee et al. 2021's ExactSubstr, re-expressed for Spark).

A true distributed suffix array is not a DataFrame-shaped computation; the
standard scalable equivalent is gram-level exact matching: any duplicated
substring of >= w words contains a duplicated w-gram, so marking every
word covered by a w-gram that occurs in >= 2 documents finds exactly
the union of all cross-document duplicated spans of length >= w (plus a
< w-word fringe at span edges — the usual gram-granularity approximation,
disclosed).

Shuffle discipline (SURVEY §2.6 family; reference analog is the exact
key-dedup of one_key_process.py:820-826 generalized to sub-document
granularity):

1. grams:   JVM-only projection — tokenize once, ``transform`` over an
            index ``sequence`` builds (pos, 60-bit md5 gram hash) structs,
            one ``explode``. No Python, no shuffle.
2. dup set: groupBy gram hash (ONE shuffle, partial agg; carries only the
            8-byte hash), keep df >= 2. This drops the overwhelming
            majority of grams (unique text) before anything else runs.
3. hits:    semi-join grams against the dup set on the hash — AQE turns
            this into a broadcast join whenever the dup set is small
            (boilerplate is rare relative to corpus size); skew on a
            viral gram is bounded because only (id, pos) rides along.
4. spans:   gaps-and-islands per document (window partitioned by doc id —
            parallelism = number of documents): two gram intervals
            [pos, pos+w-1] merge when they overlap or touch
            (pos - prev_pos <= w), so per-span word counts never
            double-count and the per-doc duplicated-word total is exact.

All hashes are the portable 60-bit md5 prefix (``md5_prefix_long(g, 15)``:
signed-64 safe in Spark and ANSI SQL), so the whole pipeline has an exact
DuckDB twin.

At 100 TB: step 2's shuffle carries ~1 long per corpus word — the same
order as the minhash shingle pass; step 4's state is per-document and
tiny. A hash collision (2^-60 per pair) can only mark a non-duplicated
gram as duplicated, identically in engine and oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    canonical_words,
    md5_prefix_long,
    normalized_for_fingerprint,
)

SPAN_W = 8  # words per gram == minimum detectable duplicated-span length


def dup_gram_positions(df: DataFrame) -> DataFrame:
    """(id, pos) of every ``SPAN_W``-gram occurring in >= 2 distinct docs.

    pos is the 0-based word offset of the gram's first word in the
    normalized tokenization (lowercase, whitespace collapsed — NULL text
    coalesced to '' so no document is silently dropped)."""
    _, grams = _doc_grams(df)
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("id").alias("gdf"))
        .where(F.col("gdf") >= 2)
        .select("gh")
    )
    return grams.join(dup, "gh", "left_semi").select("id", "pos")


def dup_spans(df: DataFrame) -> DataFrame:
    """Maximal duplicated word spans per document:
    (id, start_pos, end_pos, span_words, n_dup_grams), word offsets
    0-based inclusive. Gram intervals [pos, pos+SPAN_W-1] are merged when
    they overlap or touch (gap <= SPAN_W), so spans are disjoint per document."""
    hits = dup_gram_positions(df)
    win = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(win)
    flagged = hits.select(
        "id",
        "pos",
        F.when(prev.isNull() | (F.col("pos") - prev > SPAN_W), 1)
        .otherwise(0)
        .alias("new_seg"),
    )
    seg = F.sum("new_seg").over(
        Window.partitionBy("id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.select("id", "pos", seg.alias("seg"))
        .groupBy("id", "seg")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + SPAN_W - 1).alias("end_pos"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            "id",
            "start_pos",
            "end_pos",
            (F.col("end_pos") - F.col("start_pos") + 1).alias("span_words"),
            "n_dup_grams",
        )
    )


def _doc_grams(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, grams): base = every document as (id, toks); grams = one
    (id, pos, gh) row per ``SPAN_W``-gram (docs shorter than that emit
    none) — the shared front half of the span-rewrite family."""
    toks = canonical_words(F.coalesce(F.col("text"), F.lit("")))
    base = df.select(F.col("doc_id").alias("id"), toks.alias("toks"))
    grams = (
        base.where(F.size("toks") >= SPAN_W)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - SPAN_W),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        md5_prefix_long(
                            F.concat_ws(" ", F.slice(F.col("toks"), i + 1, SPAN_W)), 15
                        ).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )
    return base, grams


def remove_dup_spans(df: DataFrame) -> DataFrame:
    """The ExactSubstr REWRITE: excise every cross-document duplicated
    span from all documents except the span's owner, keeping exactly one
    copy in the corpus. Returns (doc_id, clean_text, n_words,
    n_removed) — every input document gets a row.

    Ownership is per gram: the minimum doc id containing the gram keeps
    it (the family's deterministic first-match-wins tie-break,
    one_key_process.py:871-874). A word is removed iff covered by at
    least one duplicated gram the document does NOT own — a word under
    both owned and non-owned coverage is removed (the conservative
    reading: some other doc retains that region). Removal intervals are
    the exact union of non-owned gram windows (same touch-or-overlap
    merge as :func:`dup_spans`), collected per document as a bounded
    array and applied with one indexed ``filter``/``exists`` expression
    pair — JVM-side, no Python, no per-word join. Exact DuckDB twin.

    At 100 TB the extra cost over :func:`dup_span_stats` is one wider
    aggregate value in the gram groupBy (the min-id owner) and the
    per-doc span array (bounded by words/SPAN_W per doc)."""
    base, grams = _doc_grams(df)
    owners = (
        grams.groupBy("gh")
        .agg(
            F.count_distinct("id").alias("gdf"),
            F.min("id").alias("owner"),
        )
        .where(F.col("gdf") >= 2)
        .select("gh", "owner")
    )
    hits = (
        grams.join(owners, "gh")
        .where(F.col("id") != F.col("owner"))
        .select("id", "pos")
        .distinct()
    )
    return _excise_hits(base, hits)


def _excise_hits(base: DataFrame, hits: DataFrame) -> DataFrame:
    """Union the hit windows [pos, pos+SPAN_W-1] per document
    (touch-or-overlap merge) and excise every covered word — the shared
    back half of remove_dup_spans and decontaminate_spans. (doc_id,
    clean_text, n_words, n_removed); every ``base`` document gets a row."""
    win = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(win)
    flagged = hits.select(
        "id",
        "pos",
        F.when(prev.isNull() | (F.col("pos") - prev > SPAN_W), 1)
        .otherwise(0)
        .alias("new_seg"),
    )
    seg = F.sum("new_seg").over(
        Window.partitionBy("id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        flagged.select("id", "pos", seg.alias("seg"))
        .groupBy("id", "seg")
        .agg(
            F.array(F.min("pos"), F.max("pos") + SPAN_W - 1).alias("sp")
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("sp")).alias("spans"))
    )
    joined = base.join(spans, "id", "left").select(
        "id",
        "toks",
        F.coalesce("spans", F.array().cast("array<array<long>>")).alias("spans"),
    )
    kept = F.filter(
        "toks",
        lambda t, i: ~F.exists(
            "spans", lambda sp: (i >= sp[0]) & (i <= sp[1])
        ),
    )
    n_words = F.when(
        F.length(F.concat_ws(" ", F.col("toks"))) == 0, F.lit(0)
    ).otherwise(F.size("toks")).cast("long")
    return joined.select(
        F.col("id").alias("doc_id"),
        F.array_join(kept, " ").alias("clean_text"),
        n_words.alias("n_words"),
        # size(toks) - size(kept), not n_words - size(kept): empty text
        # splits to [''] (size 1, n_words 0) and removes nothing
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def dup_span_stats(df: DataFrame) -> DataFrame:
    """Per-document duplicated-content profile — EVERY input document gets
    a row (the family's never-drop contract): (doc_id, n_words,
    n_dup_spans, dup_words, dup_frac). dup_words is exact (merged
    intervals, no double counting)."""
    spans = dup_spans(df)
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_words").alias("dup_words"),
    )
    text = F.coalesce(F.col("text"), F.lit(""))
    n_words = F.when(F.length(normalized_for_fingerprint(text)) == 0, F.lit(0)).otherwise(
        F.size(canonical_words(text))
    ).cast("long")
    base = df.select(F.col("doc_id").alias("id"), n_words.alias("n_words"))
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
            F.round(
                F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("dup_words", F.lit(0)).cast("double")
                    / F.col("n_words").cast("double")
                ),
                4,
            ).alias("dup_frac"),
        )
    )


def decontaminate_spans(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """SURGICAL benchmark decontamination: excise from every corpus
    document each span covered by a ``SPAN_W``-gram that occurs anywhere in the
    benchmark set, keeping the rest of the document — the span-level
    alternative to doc-level drop/flag decontamination
    (``dedup.contamination``): a 10k-word page that quotes one benchmark
    question loses the quote, not the page. No ownership exemption:
    benchmark text is removed from EVERY document (eval data must not
    survive anywhere, unlike the keep-one-copy dedup rewrite).

    Returns (doc_id, clean_text, n_words, n_removed); every input
    document gets a row.

    Shape: the corpus side is the shared gram stream (one explode, (id,
    pos, 8-byte hash) rows); the benchmark gram set is distinct-hashed and
    BROADCAST (benchmarks are tiny next to the corpus), so the hit test is
    a map-side semi-join — the corpus shuffles only for the per-document
    span union, same as remove_dup_spans. Exact DuckDB twin
    (``__spark_entry__._decontam_spans_oracle``)."""
    base, grams = _doc_grams(df)
    btoks = canonical_words(F.coalesce(F.col("text"), F.lit("")))
    bench_gh = (
        benchmark.select(btoks.alias("toks"))
        .where(F.size("toks") >= SPAN_W)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - SPAN_W),
                    lambda i: md5_prefix_long(
                        F.concat_ws(" ", F.slice(F.col("toks"), i + 1, SPAN_W)), 15
                    ),
                )
            ).alias("gh")
        )
        .distinct()
    )
    hits = (
        grams.join(F.broadcast(bench_gh), "gh", "left_semi")
        .select("id", "pos")
        .distinct()
    )
    return _excise_hits(base, hits)
