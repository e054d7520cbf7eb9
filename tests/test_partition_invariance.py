"""Physical-layout invariance for the round-3 operator additions: every
operator's OUTPUT must be a pure function of the input RELATION — the
same rows at repartition(1) and repartition(13) with shuffled row order.
(The distributed-vs-serial byte-identity tests cover the extraction
path; this pins the same property for the curation operators, which the
oracle twins implicitly rely on.)"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, n_parts: int, seed_order: int):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "text")
    )
    # shuffle row order deterministically, then impose the layout
    return (
        df.orderBy(F.md5(F.concat(F.lit(str(seed_order)), F.col("doc_id"))))
        .repartition(n_parts)
    )


def _canon(df):
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(4)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True).to_dict("records")


@pytest.mark.parametrize(
    "make",
    [
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.dedup", fromlist=["host_line_dedup"]
        ).host_line_dedup(
            df.select(
                "doc_id",
                F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string")).alias("host"),
                "text",
            )
        ), id="host_line_dedup"),
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.dsir", fromlist=["dsir_sample"]
        ).dsir_sample(df, df.where("doc_id % 5 = 0")),
            id="dsir_sample"),
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.quality", fromlist=["blockword_filter"]
        ).blockword_filter(df), id="blockword_filter"),
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.signals", fromlist=["quality_signals"]
        ).quality_signals(df), id="quality_signals"),
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.spans", fromlist=["decontaminate_spans"]
        ).decontaminate_spans(
            df, df.where("doc_id % 7 = 0").select("text")
        ), id="decontaminate_spans"),
        pytest.param(lambda df: __import__(
            "ocr_spark.operators.mixing", fromlist=["domain_quality_eb"]
        ).domain_quality_eb(
            df.select(
                "doc_id",
                F.concat(
                    F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".com/p"), F.col("doc_id").cast("string"),
                ).alias("url"),
                "text",
            )
        ), id="domain_quality_eb"),
    ],
)
def test_layout_invariance(spark, make):
    a = _canon(make(_docs(spark, 1, 11)))
    b = _canon(make(_docs(spark, 13, 97)))
    assert a == b
    assert len(a) > 0


def test_bpe_tokens_layout_invariance(spark, monkeypatch):
    from ocr_spark.core import bpe
    from ocr_spark.operators.tokenizer import bpe_encode

    # the corpus's ten most frequent words, with their counts
    counts = {"scan": 984, "column": 978, "window": 976, "order": 975,
              "sort": 974, "part": 963, "agg": 953, "value": 950,
              "line": 946, "key": 945}
    monkeypatch.setattr(bpe, "BPE_TRAIN_COUNTS", counts)
    monkeypatch.setattr(bpe, "BPE_N_MERGES", 20)
    wm = bpe.build_word_map()
    a = _canon(bpe_encode(_docs(spark, 1, 5), wm))
    b = _canon(bpe_encode(_docs(spark, 13, 23), wm))
    assert a == b
