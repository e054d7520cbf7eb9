"""Incremental ingestion dedup: a new batch against the committed corpus.

A crawl pipeline never dedups from scratch: each ingestion batch must be
checked against everything already committed — exactly (is this byte
content already in the corpus?) and near (is it a trivial variant of a
committed page?). The reference's analog is its resume key-set check
(already-processed basenames skipped, one_key_process.py:820-826)
generalized from identity to similarity — and, like the reference, the
committed side is LOADED, not recomputed: :func:`committed_state`
materializes everything the gate needs (fingerprint, distinct shingles,
minhash signature) in one map pass at commit time, and
:func:`incremental_status_against_state` checks later batches against that
table with zero reads of committed text. At 100 TB the state table is the
difference between O(batch) and O(corpus) work per ingest.

Shape: the exact check is a broadcast-friendly LEFT SEMI against the
committed fingerprint set. The near check band-joins the new batch's
(band, bucket) rows against bucket keys derived from the STORED
committed signatures (xxhash64 over sig slices — no md5 over text), with
the same union-wide bucket cap as ``minhash_lsh_pairs``, then verifies
candidates over stored distinct shingles with ``dedup.shingle_jaccard``,
the verification ``minhash_lsh_pairs`` uses, so both keep the same pair
set (and the same SQL twin). The union-wide cap counts each side's
buckets on its own and re-sums them, so the bucketed store's count stays
exchange-free; that is why this join is not ``_self_join_pairs``. Intra-batch
duplicates are deliberately NOT grounds for dropping here — they are the
batch's own clustering problem (``dedup_clusters``), and an ingest gate
that silently collapsed them would hide data-quality signal. Every new
document comes back with a status, never filtered silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5
from .dedup import LSH_MAX_BUCKET, band_buckets, minhash_signatures, shingle_jaccard


def committed_state(df: DataFrame) -> DataFrame:
    """The per-document dedup state to persist at ingest-commit time:
    (id, fp, sh: array<string> distinct shingles, sig: array<long>).
    One map pass over the batch being committed — fingerprint, shingles,
    and minhash signature all derive from a single canonicalization.
    Write this to the corpus's state table (iceberg-lite) alongside the
    data commit; later batches dedup against it without re-reading text.

    Storage note for 100 TB: ``fp``+``sig`` are fixed-width (~300 B/doc);
    ``sh`` is text-scale but columnar-compresses well and is only joined
    for the deduplicated candidate set. If storing shingles is unacceptable,
    drop ``sh`` and verify with signature agreement instead (estimated
    jaccard) — the banding/capping machinery is unchanged."""
    sigs = minhash_signatures(
        df, "doc_id", extra=(fingerprint_md5("text").alias("fp"),)
    )
    return sigs.select(
        F.col("doc_id").alias("id"),
        "fp",
        F.array_distinct("shingles").alias("sh"),
        "sig",
    )


def write_band_store(state_df: DataFrame, table_name: str, path: str) -> None:
    """Persist the committed corpus's LSH (id, band, bucket) rows as a
    parquet table BUCKETED (and sorted) by the band-join key, via
    ``plans.partitioning.write_bucketed``.

    Why: without this, every ingest batch re-derives band rows from the
    state table's ``sig`` arrays AND re-shuffles them for the candidate
    band join — O(corpus) exchange work per batch. Bucketing pins the
    committed side's layout to the join key at commit time, so the
    per-batch probe join shuffles only the NEW batch's band rows (the
    committed side's scan feeds the join with no Exchange — pinned in
    tests/test_plans.py::test_incremental_band_store_committed_side_no_exchange).
    Pay one clustered write per commit, probe exchange-free forever —
    the same pay-once discipline as the Bloom gate on the exact path.
    Refresh by re-running after each state commit (mode is overwrite);
    readers pass ``spark.table(table_name)`` as ``band_store``."""
    from ..plans.partitioning import write_bucketed

    rows = band_buckets(state_df, id_col="id")
    write_bucketed(rows, table_name, path)


def incremental_status_against_state(
    new_df: DataFrame,
    state_df: DataFrame,
    band_store: DataFrame | None,
) -> DataFrame:
    """(doc_id, status) for every row of ``new_df`` checked against a
    persisted :func:`committed_state` table: 'exact_seen' (fingerprint
    exists in the state), else 'near_seen' (minhash-LSH near-duplicate of
    a committed document at jaccard 0.5), else 'new'. Ids must be
    disjoint across generations (they are different ingestion batches).

    Produces exactly the pairs ``minhash_lsh_pairs(new ∪ committed)``
    would produce restricted to cross (new × committed) pairs — same
    union-wide bucket cap, same exact-jaccard verification — but computes
    the committed side entirely from stored state (plan contains no scan
    of committed text), and skips intra-side pairing up front instead of
    filtering it out afterwards.

    ``band_store`` (a :func:`write_band_store` table) must hold exactly
    ``band_buckets(state_df)``'s rows. Nothing here checks that: a store
    that is stale against ``state_df`` silently loses near-duplicate
    recall. The caller owns freshness. Its one caller,
    ``q_dedup_increment``, writes the store from the same
    ``committed_state(old)`` it passes as ``state_df``, once per (Spark
    application, ``sf_dir``), so the store is fresh by construction."""
    new_state = committed_state(new_df)
    new_ids = new_state.select("id")

    exact = (
        new_state.select("id", "fp")
        .join(state_df.select("fp").distinct(), "fp", "left_semi")
        .select("id")
        .withColumn("e", F.lit(True))
    )

    nb = band_buckets(new_state, id_col="id")
    # scale path: a persisted :func:`write_band_store` table is already
    # laid out (bucketed + sorted) on the band-join key, so the committed
    # side enters the candidate join with NO Exchange — only the batch's
    # own band rows shuffle. It must hold exactly band_buckets(state_df)'s
    # rows, so the pair set — and the DuckDB twin — are unchanged.
    if band_store is not None:
        sb = band_store.select("id", "band", "bucket")
    else:
        sb = band_buckets(state_df, id_col="id")
    # bucket cap over the UNION (identical semantics to the from-scratch
    # pass over new ∪ committed): a boilerplate bucket is oversized no
    # matter which generation its members arrived in. Counts are taken
    # PER SIDE and re-summed so the bucketed store's count aggregation
    # stays exchange-free (its grouping keys are its bucket spec) and the
    # second-stage agg shuffles bucket-count rows, never band rows.
    def _cnt(df: DataFrame) -> DataFrame:
        return df.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))

    small = (
        _cnt(nb).unionByName(_cnt(sb))
        .groupBy("band", "bucket")
        .agg(F.sum("n").alias("n"))
        .where((F.col("n") > 1) & (F.col("n") <= LSH_MAX_BUCKET))
        .select("band", "bucket")
    )
    nb = nb.join(small, ["band", "bucket"], "left_semi")
    cand = (
        nb.alias("l")
        .join(
            sb.join(small, ["band", "bucket"], "left_semi").alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(F.col("l.id").alias("id_new"), F.col("r.id").alias("id_old"))
        .distinct()
    )
    a = new_state.select(F.col("id").alias("id_new"), F.col("sh").alias("sh_a"))
    b = state_df.select(F.col("id").alias("id_old"), F.col("sh").alias("sh_b"))
    near = (
        cand.join(a, "id_new")
        .join(b, "id_old")
        .where(shingle_jaccard("sh_a", "sh_b") >= 0.5)
        .select(F.col("id_new").alias("id"))
        .distinct()
        .withColumn("n", F.lit(True))
    )

    return (
        new_ids.join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("e").isNotNull(), "exact_seen")
            .when(F.col("n").isNotNull(), "near_seen")
            .otherwise("new")
            .alias("status"),
        )
    )


def snapshot_diff(old_df: DataFrame, new_df: DataFrame) -> DataFrame:
    """Diff two crawl snapshots by content fingerprint: one row per key
    in either snapshot with status added / removed / changed / unchanged.

    The comparison joins FINGERPRINTS, never text: each side collapses
    to (key, md5) in its own map pass, then a single full-outer shuffle
    on the key decides the status. At 100 TB both sides should be the
    persisted state tables (:func:`committed_state`'s ``fp`` column) so
    the diff reads ~16 bytes per document and no payload at all — the
    recrawl-planning primitive (fetch only added/changed, tombstone
    removed) for incremental corpus maintenance.
    """
    old_fp = old_df.select(
        F.col("doc_id").alias("k"), fingerprint_md5("text").alias("old_fp")
    )
    new_fp = new_df.select(
        F.col("doc_id").alias("k"), fingerprint_md5("text").alias("new_fp")
    )
    return (
        old_fp.join(new_fp, "k", "full_outer")
        .select(
            F.col("k").alias("doc_id"),
            F.when(F.col("old_fp").isNull(), F.lit("added"))
            .when(F.col("new_fp").isNull(), F.lit("removed"))
            .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
            "old_fp",
            "new_fp",
        )
    )
