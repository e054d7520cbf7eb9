"""The zero-shuffle gate operators claim streaming-safety (stateless
projections, so the SAME operator body gates a readStream). This module
proves the claim: each gate runs over a file stream and its output must
equal the batch output of the same operator on the same table,
row-for-row — no rewritten streaming variant, the identical function."""

import pytest

N = 300


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs_stream"))
    (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .limit(N)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _stream_vs_batch(spark, docs_dir, tmp_path, op, name):
    batch_df = spark.read.parquet(docs_dir)
    schema = batch_df.schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(docs_dir)
    )
    out = str(tmp_path / f"{name}_out")
    ckpt = str(tmp_path / f"{name}_ckpt")
    q = (
        op(stream_in)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = op(batch_df).toPandas().sort_values("doc_id").reset_index(drop=True)
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    assert len(got) == len(want) == N, name
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_quality_filter_streams(spark, docs_dir, tmp_path):
    from ocr_spark.operators.quality import quality_filter

    _stream_vs_batch(spark, docs_dir, tmp_path, quality_filter, "quality")


def test_blockwords_streams(spark, docs_dir, tmp_path):
    from ocr_spark.operators.quality import blockword_filter

    _stream_vs_batch(spark, docs_dir, tmp_path, blockword_filter, "blockwords")


def test_script_stats_streams(spark, docs_dir, tmp_path):
    from ocr_spark.operators.textprofile import script_stats

    _stream_vs_batch(spark, docs_dir, tmp_path, script_stats, "script")


def test_code_detect_streams(spark, docs_dir, tmp_path):
    from ocr_spark.operators.textprofile import code_detect

    _stream_vs_batch(spark, docs_dir, tmp_path, code_detect, "code")


def test_bpe_encode_streams(spark, docs_dir, tmp_path, monkeypatch):
    from ocr_spark.core import bpe
    from ocr_spark.operators.tokenizer import bpe_encode

    monkeypatch.setattr(bpe, "BPE_TRAIN_COUNTS", {"data": 5, "table": 4, "join": 3})
    monkeypatch.setattr(bpe, "BPE_N_MERGES", 10)
    wm = bpe.build_word_map()
    _stream_vs_batch(
        spark, docs_dir, tmp_path, lambda df: bpe_encode(df, wm), "bpe"
    )
