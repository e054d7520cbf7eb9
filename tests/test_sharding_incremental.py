"""Shard export determinism/uniformity and incremental-ingest statuses."""

from ocr_spark.operators.incremental import (
    committed_state,
    incremental_status_against_state,
)
from ocr_spark.operators.sharding import N_SHARDS, shard_assignment

BASE = ("the quick brown fox jumps over the lazy dog and keeps going with "
        "plenty of additional prose so shingles and fingerprints are stable")


def _ids(spark, n):
    return spark.range(n).selectExpr("id AS doc_id")


def test_shard_assignment_total_and_deterministic(spark):
    df = _ids(spark, 200)
    a = sorted(shard_assignment(df).collect())
    b = sorted(shard_assignment(df.repartition(7)).collect())
    assert a == b                                  # partitioning-invariant
    assert len(a) == 200
    assert {r["shard"] for r in a} <= set(range(N_SHARDS))


def test_shard_positions_are_dense_per_shard(spark):
    out = shard_assignment(_ids(spark, 300)).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard


def test_shard_scatter_breaks_input_locality(spark):
    """Consecutive ids must not land in the same shard en masse."""
    out = {r["doc_id"]: r["shard"] for r in
           shard_assignment(_ids(spark, 64)).collect()}
    runs = sum(1 for i in range(1, 64) if out[i] == out[i - 1])
    assert runs < 20      # E[runs] = 63/16 ~ 4 for a uniform scatter


def test_shard_seed_changes_assignment(spark):
    """The shard is the portable md5(SHARD_SEED || ':' || id) key, so a
    release can re-derive it outside Spark, and the seed moves it off the
    bare-id md5 scatter."""
    import hashlib

    from ocr_spark.operators.sharding import SHARD_SEED

    def md5_shard(prefix, i):
        return int(hashlib.md5(f"{prefix}{i}".encode()).hexdigest()[:8], 16) % N_SHARDS

    got = {r["doc_id"]: r["shard"] for r in
           shard_assignment(_ids(spark, 100)).collect()}
    assert got == {i: md5_shard(SHARD_SEED + ":", i) for i in range(100)}
    assert got != {i: md5_shard("", i) for i in range(100)}


def test_incremental_statuses(spark):
    committed = spark.createDataFrame(
        [(0, BASE), (1, BASE + " committed variant two entirely")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, BASE),                      # exact copy of 0
            (101, BASE + " tail"),            # near dup of 0
            (102, "completely different content about query planners and "
                  "shuffle services with no shared vocabulary whatsoever"),
            (103, BASE),                      # second exact copy: also exact_seen
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in
           incremental_status_against_state(new, committed_state(committed), None)
           .collect()}
    assert got == {100: "exact_seen", 101: "near_seen",
                   102: "new", 103: "exact_seen"}


def test_persisted_state_path_never_rereads_committed_text(spark, tmp_path):
    """The production ingest contract: batch 2 dedups against the PERSISTED
    committed_state table — the committed corpus's text is neither scanned
    (plan check) nor even present in the state schema."""
    from ocr_spark.operators.incremental import (
        committed_state,
        incremental_status_against_state,
    )

    committed = spark.createDataFrame(
        [(0, BASE), (1, BASE + " committed variant two entirely")],
        "doc_id long, text string",
    )
    committed_dir = str(tmp_path / "committed_docs")
    state_dir = str(tmp_path / "dedup_state")
    committed.write.parquet(committed_dir)
    # commit time: derive state from the batch being committed (one pass)
    committed_state(spark.read.parquet(committed_dir)).write.parquet(state_dir)

    new = spark.createDataFrame(
        [(100, BASE), (101, BASE + " tail"),
         (102, "completely different content about query planners and "
               "shuffle services with no shared vocabulary whatsoever")],
        "doc_id long, text string",
    )
    state = spark.read.parquet(state_dir)
    assert "text" not in state.columns
    out = incremental_status_against_state(new, state, None)
    files = out.inputFiles()
    assert any(state_dir in f for f in files)           # state IS scanned
    assert not any(committed_dir in f for f in files)   # committed text is NOT
    got = {r["doc_id"]: r["status"] for r in out.collect()}
    assert got == {100: "exact_seen", 101: "near_seen", 102: "new"}


def test_intra_batch_duplicates_stay_new(spark):
    """Two copies of the same NEW document are not 'seen' — intra-batch
    dup handling belongs to dedup_clusters, not the ingest gate."""
    committed = spark.createDataFrame(
        [(0, "committed corpus text that shares nothing with the batch "
             "documents below in any shingle")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(200, BASE), (201, BASE)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in
           incremental_status_against_state(new, committed_state(committed), None)
           .collect()}
    assert got == {200: "new", 201: "new"}


def test_shard_manifest_detects_order_and_content_drift(spark):
    """The manifest fingerprint is order-sensitive: re-deriving it from
    the same corpus reproduces it bit-for-bit (any partitioning), but
    changing ONE document's text changes exactly that shard's digest
    while every other shard's survives."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.sharding import shard_assignment, shard_manifest

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    base = shard_manifest(docs).toPandas().set_index("shard")
    assert base.n_docs.sum() == 300
    again = shard_manifest(docs.repartition(7)).toPandas().set_index("shard")
    assert base.equals(again)

    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 5, F.lit("changed")).otherwise(F.col("text")),
    )
    mut = shard_manifest(mutated).toPandas().set_index("shard")
    hit = shard_assignment(docs).where("doc_id = 5").collect()[0].shard
    for s in base.index:
        if s == hit:
            assert mut.loc[s, "content_fp"] != base.loc[s, "content_fp"]
        else:
            assert mut.loc[s, "content_fp"] == base.loc[s, "content_fp"]


def test_incremental_band_store_path_row_identical(spark, tmp_path):
    """The bucketed band-store path must produce EXACTLY the rows of the
    derive-in-session path (same pair set, same statuses) — the layout is
    an execution detail, never a semantic one."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.incremental import (
        committed_state,
        incremental_status_against_state,
        write_band_store,
    )

    docs = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            (F.col("id") % 40),
            F.lit(" with some more shared filler words in every doc"),
        ).alias("text"),
    )
    committed = docs.where("doc_id < 60")
    batch = docs.where("doc_id >= 60").select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    state = committed_state(committed)
    base = sorted(
        (r["doc_id"], r["status"])
        for r in incremental_status_against_state(batch, state, None).collect()
    )
    write_band_store(state, "bkt_band_eq", str(tmp_path / "beq"))
    try:
        stored = sorted(
            (r["doc_id"], r["status"])
            for r in incremental_status_against_state(
                batch, state, band_store=spark.table("bkt_band_eq")
            ).collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_band_eq")
    assert base == stored
    assert any(s == "exact_seen" for _, s in base)  # non-vacuous


def test_dedup_increment_reuses_one_band_store(spark):
    """The registry's dedup_increment builder writes its band store once
    per (application, sf_dir), under this process's
    ``_scratch_root("band", ...)`` so a later process removes it once this
    one has exited: a second call (a timed bench rep) reuses the store
    instead of writing it again."""
    import os
    from urllib.parse import urlparse

    import __spark_entry__ as entrymod

    def stores():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("dedup_increment_band_store_")
        }

    def files(root):
        return {f: os.path.getmtime(f"{root}/{f}") for f in os.listdir(root)}

    before = stores()
    first = entrymod.q_dedup_increment(spark, entrymod.SF0001)
    added = stores() - before
    try:
        assert len(added) == 1
        location = spark.sql(f"DESCRIBE TABLE EXTENDED {next(iter(added))}").where(
            "col_name = 'Location'").first()["data_type"]
        root = urlparse(location).path
        assert root.startswith("/tmp/ocr_spark_band_q/")
        assert root.endswith(f"-{os.getpid()}")
        written = files(root)
        assert any(f.endswith(".parquet") for f in written)
        second = entrymod.q_dedup_increment(spark, entrymod.SF0001)
        assert stores() - before == added
        assert files(root) == written
        assert sorted(first.collect()) == sorted(second.collect())
    finally:
        for t in added:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
