"""Behavioral tests for host-conditional boilerplate removal
(dedup.host_line_dedup) and DSIR importance resampling (dsir.dsir_sample).
Exact cross-engine parity for both is covered by test_oracle_parity
(host_boilerplate / dsir_sample); these pin the SEMANTICS on crafted
corpora where the right answer is known by construction."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import dsir
from ocr_spark.operators.dedup import host_line_dedup
from ocr_spark.operators.dsir import dsir_log_ratios, dsir_sample


@pytest.fixture(scope="module")
def host_corpus(spark):
    # host A: 6 pages, every page carries the chrome line (ratio 1.0) and a
    # minority line on 2/6 (ratio 0.33); host B: 3 pages (< min_host_pages)
    # all sharing a line that must therefore survive.
    rows = []
    for i in range(6):
        rows.append(
            (i, "a.com",
             "a.com nav chrome\n" + f"unique content {i}"
             + ("\nsometimes promo" if i < 2 else ""))
        )
    for i in range(3):
        rows.append((10 + i, "b.com", "b.com nav chrome\n" + f"b content {i}"))
    return spark.createDataFrame(rows, "doc_id long, host string, text string")


def test_host_chrome_dropped_minority_kept(host_corpus):
    out = {
        r.doc_id: r
        for r in host_line_dedup(host_corpus).collect()
    }
    assert len(out) == 9
    # host A chrome gone, content + minority promo kept in order
    assert out[0].text == "unique content 0\nsometimes promo"
    assert out[3].text == "unique content 3"
    assert out[0].n_dropped == 1
    # host B below min_host_pages: nothing dropped
    assert out[10].text == "b.com nav chrome\nb content 0"
    assert out[10].n_dropped == 0


def test_host_dedup_null_text_survives(spark):
    df = spark.createDataFrame(
        [(1, "a.com", None)], "doc_id long, host string, text string"
    )
    rows = host_line_dedup(df).collect()
    assert len(rows) == 1 and rows[0].text == "" and rows[0].n_dropped == 0


@pytest.fixture(scope="module")
def dsir_corpus(spark):
    # two vocabulary families: docs 0-19 speak "target-ish", 20-39 speak
    # an alien vocabulary; the target sample is 8 target-ish docs.
    rows = []
    for i in range(20):
        rows.append((i, f"alpha beta gamma delta epsilon topic {i % 4}"))
    for i in range(20, 40):
        rows.append((i, f"zork quux fnord blarg wibble noise {i % 4}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_weights_separate_families(spark, dsir_corpus):
    target = dsir_corpus.where(F.col("doc_id") < 8)
    picked = dsir_sample(dsir_corpus, target)   # DSIR_K >= 40: every doc
    w = {r.doc_id: r.log_weight for r in picked.collect()}
    assert len(w) == 40
    mean_in = sum(w[i] for i in range(20)) / 20
    mean_out = sum(w[i] for i in range(20, 40)) / 20
    assert mean_in > mean_out + 0.5, (mean_in, mean_out)


def test_dsir_topk_prefers_target_family(spark, dsir_corpus, monkeypatch):
    monkeypatch.setattr(dsir, "DSIR_K", 10)
    target = dsir_corpus.where(F.col("doc_id") < 8)
    picked = dsir_sample(dsir_corpus, target)
    rows = picked.collect()
    assert len(rows) == 10
    n_target_family = sum(1 for r in rows if r.doc_id < 20)
    assert n_target_family >= 8  # Gumbel noise may admit a couple of others
    # returned in descending sample_key order
    keys = [r.sample_key for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_dsir_ratio_table_bounded(spark, dsir_corpus, monkeypatch):
    monkeypatch.setattr(dsir, "DSIR_N_BUCKETS", 64)
    target = dsir_corpus.where(F.col("doc_id") < 8)
    ratios = dsir_log_ratios(dsir_corpus, target)
    assert ratios.count() <= 64


def test_dsir_apply_with_persisted_ratios_matches_one_shot(spark, dsir_corpus,
                                                          monkeypatch):
    """The deploy seam: a fitted log-ratio table written to disk and read
    back (the cross-batch persistence path) selects EXACTLY what the
    one-shot fit+apply selects — so batches can reuse the frozen artifact
    with one corpus scan instead of two."""
    import pandas as pd

    from ocr_spark.operators.dsir import dsir_apply

    monkeypatch.setattr(dsir, "DSIR_K", 12)
    target = dsir_corpus.where(F.col("doc_id") < 8)
    one_shot = dsir_sample(dsir_corpus, target).toPandas()

    ratios = dsir_log_ratios(dsir_corpus, target)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ratios.write.mode("overwrite").parquet(d)
        frozen = spark.read.parquet(d)
        applied = dsir_apply(dsir_corpus, frozen).toPandas()
        # and a NEW disjoint batch resamples against the same frozen table
        batch2 = dsir_corpus.select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
        monkeypatch.setattr(dsir, "DSIR_K", 5)
        rows2 = dsir_apply(batch2, frozen).collect()
    pd.testing.assert_frame_equal(
        one_shot.reset_index(drop=True), applied.reset_index(drop=True)
    )
    assert len(rows2) == 5
    assert all(r.doc_id >= 1000 for r in rows2)


def test_dsir_empty_text_survives(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta useful"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    picked = dsir_sample(df, df.where("doc_id = 1"))
    rows = {r.doc_id: r for r in picked.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_feats == 0 and rows[2].log_weight == 0.0


def test_cross_host_below_ratio_line_survives(spark):
    """VERDICT r4 item 6 follow-through: a line shared ACROSS hosts but
    below-ratio WITHIN each host (the registry plant's `%7` "powered by
    examplecms" shape) must survive on every host — the ratio is per
    (host, line), never global, and the old `%4` plant could only land
    at 100% or 0% per host so this path went unexercised."""
    rows = []
    for h in ("a.com", "b.com"):
        for i in range(7):
            text = f"{h} nav chrome\ncontent {h} {i}"
            if i == 0:
                text += "\npowered by examplecms"
            rows.append((hash(h) % 100 * 10 + i, h, text))
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = host_line_dedup(df).collect()
    assert len(out) == 14
    survivors = [r for r in out if "powered by examplecms" in r.text]
    # the cross-host 1/7-ratio line survives on BOTH hosts...
    assert len(survivors) == 2
    assert {r.host for r in survivors} == {"a.com", "b.com"}
    # ...while each host's 7/7 chrome line is dropped everywhere
    assert all("nav chrome" not in r.text for r in out)
    assert all(r.n_dropped == 1 for r in out)
