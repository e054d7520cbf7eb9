"""Crafted-truth test for per-document TF-IDF top terms."""

import math

from ocr_spark.operators.tfidf import tfidf_top_terms


def test_tfidf_distinctive_terms_rank_first(spark):
    rows = [
        (0, "common common common zebra zebra"),
        (1, "common words here again"),
        (2, "common words there too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df).toPandas()
    by_doc = {d: list(g.sort_values("rank").term) for d, g in out.groupby("doc_id")}
    # 'zebra' appears only in doc 0: highest idf there; 'common' is in every
    # doc so its smoothed idf is 0 and it can never outrank a unique term
    assert by_doc[0][0] == "zebra"
    zebra = out[(out.doc_id == 0) & (out.term == "zebra")].tfidf.iloc[0]
    assert abs(zebra - round(2 * math.log(4 / 2), 4)) < 1e-9
    common = out[out.term == "common"]
    assert (common.tfidf == 0.0).all()
    # deterministic ties: equal scores order by term ascending
    assert by_doc[1] == sorted(by_doc[1]) or len(set(by_doc[1])) == 2
