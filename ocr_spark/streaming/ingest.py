"""Streaming crawl ingest with the dedup gate composed — the production
shape the batch operators exist for: micro-batches of pages flow through
``incremental_status_against_state`` and only NOVEL documents reach the
corpus, while the committed state (fingerprints + minhash signatures) and
the blocked-Bloom prefilter grow by exactly the admitted delta.

Per micro-batch (foreachBatch):

  1. intra-batch exact dedup (min-id keeper — a batch that carries the
     same page twice must not commit it twice);
  2. gate against the PERSISTED state table (operators/incremental.py):
     'exact_seen' / 'near_seen' rows drop, 'new' rows pass. The exact
     check is prefiltered by the persisted Bloom table, so a mostly-novel
     batch never joins the committed fingerprint set; the near check
     band-joins stored signatures — committed TEXT is never re-read;
  3. append admitted pages to the corpus table, their dedup state to the
     state table, and OR-merge their Bloom delta into the filter
     (``bloom_merge`` — O(batch) build, never a corpus rebuild);
  4. append a per-batch metrics row (batch id, counts per status) to the
     metrics table — the lineage record, and the idempotency ledger:
     foreachBatch re-delivers the in-flight batch after a crash, so a
     batch id already present in the ledger is skipped wholesale
     (the same commit-or-skip contract as pipeline.run_extract).

State tables are iceberg-lite, so every step is atomic-commit + time
travel + incremental-tail compatible. Reference analog: the resume
key-set gate, one_key_process.py:820-826, generalized from identity to
similarity and kept warm across an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import bloom_build, bloom_merge, n_blocks_for
from ..operators.incremental import (
    committed_state,
    incremental_status_against_state,
)
from ..sources.iceberg_lite import IcebergLiteTable

INGEST_BLOOM_BLOCKS = 1 << 14  # fixed per deployment: part of filter identity


class DedupIngest:
    """The foreachBatch sink. Owns the corpus / state / bloom / metrics
    tables under ``root`` and admits only novel documents.

    ``band_store_every=K`` (0 = off) additionally maintains the LSM-style
    bucketed band layout for the near-dup probe: every K batches the full
    state's (id, band, bucket) rows are rewritten as a parquet table
    bucketed+sorted on the band-join key (operators/incremental.py
    ``write_band_store``), stamped with the state sequence it covers; a
    probe then joins the bucketed BASE exchange-free and derives band
    rows in-session only for the state appended SINCE the stamp — per
    batch the committed side costs O(batches-since-refresh) shuffle
    instead of O(corpus). Crash-safe by stamp comparison: the base is
    written before its meta commit, and a probe that finds the stamp and
    the meta disagreeing (the crash window) or any non-append state
    snapshot after the stamp (a compaction) falls back to the
    derive-from-full-state path — correctness never rides on the cache.
    Catalog scope: ``saveAsTable`` registers the bucketed table in the
    session catalog, so after a driver restart probes fall back (the
    in-memory catalog forgot the name, and bucket metadata cannot be
    recovered from the parquet path alone) until the next due refresh
    re-registers it; with a persistent metastore the store survives
    restarts as-is."""

    def __init__(self, root: str, text_col: str = "text",
                 id_col: str = "doc_id", threshold: float = 0.5,
                 n_blocks: int = INGEST_BLOOM_BLOCKS,
                 band_store_every: int = 0):
        import hashlib

        self.corpus = IcebergLiteTable(f"{root}/corpus")
        self.state = IcebergLiteTable(f"{root}/state")
        self.bloom = IcebergLiteTable(f"{root}/bloom")
        self.metrics = IcebergLiteTable(f"{root}/metrics")
        self.text_col, self.id_col = text_col, id_col
        self.threshold, self.n_blocks = threshold, n_blocks
        self.band_store_every = band_store_every
        self.band_meta = IcebergLiteTable(f"{root}/band_meta")
        self.band_store_path = f"{root}/band_store"
        self.band_store_table = (
            "ingest_band_store_"
            + hashlib.md5(root.encode()).hexdigest()[:12]
        )

    # -- bucketed band-store maintenance ------------------------------------
    def _band_probe(self, spark: SparkSession):
        """(band_store, tail_state) for the near-dup probe, or (None, None)
        when the store is absent/stale-inconsistent and the caller must
        derive from the full state."""
        if self.band_store_every <= 0 or not self.band_meta.exists():
            return None, None
        try:
            store = spark.table(self.band_store_table)
            stamp_row = store.select("through_seq").limit(1).collect()
        except Exception:
            return None, None
        if not stamp_row:
            return None, None
        stamp = stamp_row[0]["through_seq"]
        meta = self.band_meta.read(spark).collect()
        if len(meta) != 1 or meta[0]["through_seq"] != stamp:
            return None, None  # crash window between store write + meta
        tail_dirs: list[str] = []
        snaps = sorted(self.state.snapshots(), key=lambda s: s["sequence"])
        parent = None
        for snap in snaps:
            if snap["sequence"] > stamp:
                if not IcebergLiteTable.is_append(snap, parent):
                    return None, None  # compaction rewrote history
                tail_dirs += [e["dir"] for e in IcebergLiteTable.added_entries(snap)]
            parent = snap
        tail = (
            spark.read.parquet(*tail_dirs) if tail_dirs else None
        )
        return store.select("id", "band", "bucket"), tail

    def _band_refresh(self, spark: SparkSession, batch_id: int) -> None:
        """Rewrite the bucketed band store from the full state (store
        first, meta second — see the stamp-comparison contract above)."""
        if self.band_store_every <= 0:
            return
        due = (
            not self.band_meta.exists()
            or batch_id % self.band_store_every == 0
        )
        if not due:
            return
        from ..operators.dedup import band_buckets
        from ..plans.partitioning import write_bucketed

        cur = self.state.current_snapshot()
        seq = cur["sequence"] if cur else -1
        state_df = self.state.read(spark)
        if state_df is None:
            return
        # write_band_store's layout, plus the stamp column the probe
        # compares against band_meta (band_buckets would drop it, so the
        # constant is attached to the band rows directly)
        rows = band_buckets(state_df, id_col="id").withColumn(
            "through_seq", F.lit(seq).cast("long")
        )
        write_bucketed(
            rows, self.band_store_table, self.band_store_path,
            ["band", "bucket"],
        )
        self.band_meta.overwrite(
            spark.createDataFrame([(seq,)], "through_seq long"),
            properties={"batch_id": str(batch_id)},
        )

    # -- idempotency ledgers -------------------------------------------------
    def committed_batches(self, spark: SparkSession) -> set[int]:
        if not self.metrics.exists():
            return set()
        return {
            r.batch_id
            for r in self.metrics.read(spark).select("batch_id").collect()
        }

    @staticmethod
    def _table_has_batch(table: IcebergLiteTable, batch_id: int) -> bool:
        """Per-table replay guard: every append stamps its snapshot with
        the batch id, so a crash between table commits replays only the
        MISSING commits (the same commit-or-skip contract per table that
        the metrics ledger gives the batch as a whole)."""
        if not table.exists():
            return False
        return any(
            (s.get("properties") or {}).get("batch_id") == str(batch_id)
            for s in table.snapshots()
        )

    # -- the per-batch commit ----------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        if batch_id in self.committed_batches(spark):
            return {"batch_id": batch_id, "skipped": True}

        props = {"batch_id": str(batch_id)}
        batch = batch.persist()
        pinned = [batch]
        try:
            # 1. intra-batch exact dedup (deterministic min-id keeper)
            from ..operators.dedup import exact_dedup

            uniq = exact_dedup(batch, self.text_col, self.id_col).persist()
            pinned.append(uniq)

            # 2. gate against persisted state (+ bloom prefilter). If a
            # crash already committed this batch to the STATE table, the
            # gate would see the batch's own rows as duplicates — replay
            # paths below therefore consult the per-table guards and never
            # re-derive 'admitted' from a polluted gate.
            state_has = self._table_has_batch(self.state, batch_id)
            corpus_has = self._table_has_batch(self.corpus, batch_id)
            if self.state.exists() and not state_has:
                state_df = self.state.read(spark)
                bloom_df = (
                    self.bloom.read(spark) if self.bloom.exists() else None
                )
                band_base, band_tail = self._band_probe(spark)
                status = incremental_status_against_state(
                    uniq, state_df, self.text_col, self.id_col,
                    threshold=self.threshold,
                    bloom=bloom_df, bloom_n_blocks=self.n_blocks,
                    band_store=band_base,
                    band_store_tail_state=band_tail,
                )
            elif state_has:
                status = None  # replay past the state commit: see below
            else:
                status = uniq.select(
                    F.col(self.id_col), F.lit("new").alias("status")
                )

            if status is not None:
                status = status.persist()
                pinned.append(status)
                admitted = uniq.join(
                    status.where(F.col("status") == "new")
                    .select(self.id_col),
                    self.id_col,
                    "left_semi",
                ).persist()
                pinned.append(admitted)

                # 3a. commit corpus THEN state, each stamped + guarded:
                # crash between them replays only the missing commit with
                # the gate still unpolluted (state not yet written).
                if not corpus_has:
                    self.corpus.append(admitted, properties=props)
                delta_state = committed_state(
                    admitted, self.text_col, self.id_col
                )
                self.state.append(delta_state, properties=props)
                # periodic bucketed band-store refresh (store first, meta
                # second; a crash between them is detected by the probe's
                # stamp comparison and degrades to derive-from-full)
                self._band_refresh(spark, batch_id)
                delta_bloom = bloom_build(
                    delta_state.select("fp"), "fp", n_blocks=self.n_blocks
                )
                if self.bloom.exists():
                    merged = bloom_merge(self.bloom.read(spark), delta_bloom)
                else:
                    merged = delta_bloom
                counts = {
                    r["status"]: r["n"]
                    for r in status.groupBy("status")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            else:
                # replay after the state commit landed but before the
                # bloom/metrics commits: corpus+state are guarded-done;
                # rebuild the filter from the full persisted fp column —
                # O(corpus) instead of O(batch), but only on this rare
                # crash window, and missing filter bits would otherwise
                # let future true duplicates through as bloom-negatives.
                merged = bloom_build(
                    self.state.read(spark).select("fp"),
                    "fp",
                    n_blocks=self.n_blocks,
                )
                counts = {}

            # bloom overwrite is idempotent (re-OR of the same bits)
            self.bloom.overwrite(merged, properties=props)

            # 4. metrics row = lineage + the batch-level idempotency marker
            # (LAST, so any earlier crash replays the batch through the
            # per-table guards above)
            row = {
                "batch_id": batch_id,
                "n_input": batch.count(),
                "n_unique": uniq.count(),
                "n_new": counts.get("new", 0),
                "n_exact_seen": counts.get("exact_seen", 0),
                "n_near_seen": counts.get("near_seen", 0),
                "replayed": status is None,
            }
            self.metrics.append(
                spark.createDataFrame(
                    [row],
                    "batch_id long, n_input long, n_unique long, "
                    "n_new long, n_exact_seen long, n_near_seen long, "
                    "replayed boolean",
                ),
                properties=props,
            )
            return row
        finally:
            for df in pinned:
                df.unpersist()

    def sizing_blocks(self, expected_keys: int) -> int:
        return n_blocks_for(expected_keys)


def start_dedup_ingest(pages: DataFrame, root: str,
                       checkpoint: str, **ingest_kw):
    """Wire a streaming pages DataFrame into the dedup ingest. Use
    ``trigger(availableNow=True)`` semantics from the caller via
    ``.awaitTermination()`` on the returned query for drain-style jobs."""
    ingest = DedupIngest(root, **ingest_kw)
    return (
        pages.writeStream.foreachBatch(
            lambda df, bid: ingest.process_batch(df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
