"""Streaming crawl ingest with the dedup gate composed (streaming/ingest.py):
micro-batches flow through incremental_status_against_state; only novel
documents reach the corpus; state + bloom grow by the admitted delta; a
metrics ledger plus per-table snapshot stamps make every crash window
replay-safe."""

from ocr_spark.streaming.ingest import DedupIngest, start_dedup_ingest

SCHEMA = "doc_id long, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _corpus_ids(spark, ingest):
    return sorted(
        r.doc_id for r in ingest.corpus.read(spark).select("doc_id").collect()
    )


def _mk(i):
    # fully disjoint vocabulary per document: near-dup only for true copies
    return (i, " ".join(f"w{i}x{j}" for j in range(12)))


def test_ingest_two_batches_dedups_across_and_within(spark, tmp_path):
    ing = DedupIngest(str(tmp_path / "t"))
    b1 = _docs(spark, [_mk(0), _mk(1), (2, _mk(0)[1])])  # 2 = intra dup of 0
    r1 = ing.process_batch(b1, 0)
    assert r1["n_input"] == 3 and r1["n_unique"] == 2 and r1["n_new"] == 2
    assert _corpus_ids(spark, ing) == [0, 1]

    # batch 2: one exact recrawl of 0 (new id), one novel doc
    b2 = _docs(spark, [(10, _mk(0)[1]), _mk(11)])
    r2 = ing.process_batch(b2, 1)
    assert r2["n_exact_seen"] == 1 and r2["n_new"] == 1
    assert _corpus_ids(spark, ing) == [0, 1, 11]

    # state/bloom grew by the admitted delta only
    assert ing.state.read(spark).count() == 3
    m = {r.batch_id: r for r in ing.metrics.read(spark).collect()}
    assert m[0].n_new == 2 and m[1].n_exact_seen == 1


def test_ingest_batch_ledger_skips_committed_batch(spark, tmp_path):
    ing = DedupIngest(str(tmp_path / "t"))
    b = _docs(spark, [_mk(0), _mk(1)])
    ing.process_batch(b, 0)
    before = _corpus_ids(spark, ing)
    out = ing.process_batch(b, 0)          # foreachBatch redelivery
    assert out.get("skipped") is True
    assert _corpus_ids(spark, ing) == before
    assert ing.metrics.read(spark).count() == 1


def test_ingest_replay_after_corpus_commit_crash(spark, tmp_path):
    """Crash window: corpus committed, state/bloom/metrics lost. The
    replay must not double-append the corpus and must complete the
    remaining commits."""
    ing = DedupIngest(str(tmp_path / "t"))
    ing.process_batch(_docs(spark, [_mk(0)]), 0)

    b = _docs(spark, [_mk(5), _mk(6)])
    # simulate the partial batch: corpus append landed, nothing else
    ing.corpus.append(b, properties={"batch_id": "1"})
    r = ing.process_batch(b, 1)
    assert _corpus_ids(spark, ing) == [0, 5, 6]     # no duplicates
    assert r["n_new"] == 2
    assert ing.state.read(spark).count() == 3
    assert {x.batch_id for x in ing.metrics.read(spark).collect()} == {0, 1}


def test_ingest_replay_after_state_commit_crash(spark, tmp_path):
    """Crash window: corpus AND state committed, bloom/metrics lost. The
    replay must not re-gate against the polluted state (which would call
    the batch's own rows duplicates) and must rebuild the filter so later
    true duplicates still bloom-positive."""
    from ocr_spark.operators.bloom import bloom_probe
    from ocr_spark.operators.incremental import committed_state

    ing = DedupIngest(str(tmp_path / "t"))
    ing.process_batch(_docs(spark, [_mk(0)]), 0)

    b = _docs(spark, [_mk(5), _mk(6)])
    ing.corpus.append(b, properties={"batch_id": "1"})
    ing.state.append(committed_state(b), properties={"batch_id": "1"})
    r = ing.process_batch(b, 1)
    assert r["replayed"] is True
    assert _corpus_ids(spark, ing) == [0, 5, 6]
    # the rebuilt filter knows the replayed batch's fingerprints: a true
    # recrawl of doc 5 must NOT be bloom-negative
    probe = committed_state(_docs(spark, [(99, _mk(5)[1])])).select("id", "fp")
    hit = bloom_probe(
        probe, ing.bloom.read(spark), "fp", n_blocks=ing.n_blocks
    ).collect()[0]
    assert hit.maybe_seen is True
    # and the full gate on a recrawl batch drops it
    r3 = ing.process_batch(_docs(spark, [(99, _mk(5)[1]), _mk(7)]), 2)
    assert r3["n_exact_seen"] == 1 and r3["n_new"] == 1
    assert _corpus_ids(spark, ing) == [0, 5, 6, 7]


def test_start_dedup_ingest_streaming_end_to_end(spark, tmp_path):
    """Drive the composition through a real availableNow streaming query:
    two source commits, overlapping content, one drain each — the corpus
    ends exactly once per unique document and the checkpoint carries the
    batch ids across restarts."""
    src = str(tmp_path / "src")
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    _docs(spark, [_mk(0), _mk(1)]).write.parquet(src + "/b1")
    pages = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = start_dedup_ingest(pages, root, ckpt)
    q.awaitTermination(120)

    _docs(spark, [(10, _mk(0)[1]), _mk(11)]).write.parquet(src + "/b2")
    pages2 = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q2 = start_dedup_ingest(pages2, root, ckpt)
    q2.awaitTermination(120)

    ing = DedupIngest(root)
    assert _corpus_ids(spark, ing) == [0, 1, 11]


def test_ingest_band_store_equivalent_and_tail_correct(spark, tmp_path):
    """The LSM band-store layout (bucketed base + in-session tail) must
    gate identically to the derive-from-full path: same corpus, same
    per-batch status counts — including a near-dup of a document that
    was committed AFTER the last base refresh (the tail window)."""
    plain = DedupIngest(str(tmp_path / "plain"))
    lsm = DedupIngest(str(tmp_path / "lsm"), band_store_every=2)
    batches = [
        _docs(spark, [_mk(0), _mk(1)]),                       # batch 0
        _docs(spark, [_mk(2), (50, _mk(0)[1])]),              # 50 exact of 0
        # 60 = near-dup of doc 2 (committed in batch 1 — AFTER the
        # batch-0 refresh, so only the tail can catch it); 61 novel
        _docs(spark, [(60, _mk(2)[1] + " drift"), _mk(61)]),  # batch 2
        _docs(spark, [(70, _mk(61)[1]), _mk(71)]),            # batch 3
    ]
    try:
        for bid, b in enumerate(batches):
            rp = plain.process_batch(b, bid)
            rl = lsm.process_batch(b, bid)
            keys = ("n_input", "n_unique", "n_new",
                    "n_exact_seen", "n_near_seen")
            assert {k: rp[k] for k in keys} == {k: rl[k] for k in keys}, bid
        assert _corpus_ids(spark, plain) == _corpus_ids(spark, lsm)
        # the tail-window near-dup was actually caught, not vacuous
        m = {r.batch_id: r for r in lsm.metrics.read(spark).collect()}
        assert m[2].n_near_seen == 1 and m[1].n_exact_seen == 1
        # the bucketed base exists and carries the stamp contract
        store = spark.table(lsm.band_store_table)
        assert {"id", "band", "bucket", "through_seq"} <= set(store.columns)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lsm.band_store_table}")


def test_ingest_band_store_crash_window_falls_back(spark, tmp_path):
    """Store written but meta behind (the refresh crash window): the
    probe must detect the stamp mismatch and fall back to the
    derive-from-full path — the gate still catches duplicates."""
    ing = DedupIngest(str(tmp_path / "cw"), band_store_every=1)
    try:
        ing.process_batch(_docs(spark, [_mk(0), _mk(1)]), 0)
        # simulate the crash window: meta regresses to a stale stamp
        ing.band_meta.overwrite(
            spark.createDataFrame([(-999,)], "through_seq long")
        )
        assert ing._band_probe(spark) == (None, None)
        r = ing.process_batch(_docs(spark, [(9, _mk(0)[1]), _mk(3)]), 1)
        assert r["n_exact_seen"] == 1 and r["n_new"] == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ing.band_store_table}")
