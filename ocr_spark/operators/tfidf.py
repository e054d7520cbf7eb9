"""Per-document TF-IDF top terms — corpus-level keyword extraction.

The training-data shape: given the extracted corpus, surface each
document's most distinctive terms (dataset exploration, quality triage,
topic-balanced sampling). Pure DataFrame expressions end to end — the
reference's per-feature extraction dialects (one_key_process.py:281-340)
work per document; this is the corpus-statistic layer Spark adds on top.

Plan shape (the part that matters at 100 TB):
  explode(tokens) -> [shuffle 1] groupBy(doc, term) count (map-side combine)
  -> [shuffle 2, vocabulary-sized] groupBy(term) document frequency
  -> join tf x df (AQE picks broadcast when the vocabulary fits)
  -> [shuffle 3] per-doc window top-k
No Python, no driver-side loops; the only driver scalar is the corpus row
count (a single aggregate probe).

Determinism/oracle contract: tokens = the shared TOKEN_PATTERN regex over
lower(text); idf = ln((N + 1) / (df + 1)) (smoothed); score = tf * idf
rounded to 4 dp; ORDER BY uses the ROUNDED score (desc, term asc) on both
engines so cross-engine last-ulp ln() differences cannot flip ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens


TFIDF_TOP_TERMS = 3  # terms tfidf_top_terms keeps per document


def tfidf_top_terms(df: DataFrame) -> DataFrame:
    """(doc_id, term, tfidf, rank): top-``TFIDF_TOP_TERMS`` terms per document."""
    n_docs = df.count()  # single aggregate probe; the only driver scalar
    toks = df.select(
        F.col("doc_id"),
        F.explode(word_tokens("text")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", F.round(F.col("tf") * idf, 4).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tfidf", "rank")
    )


MLT_QUERY_ID = 1  # the document more_like_this finds neighbours of


def more_like_this(df: DataFrame) -> DataFrame:
    """Sparse tf-idf "more like this": the 10 documents most cosine-
    similar to ``MLT_QUERY_ID``'s tf-idf vector. Columns: doc_id, cosine
    (4dp), rank.

    Determinism discipline (the HLL lesson applied to sparse vectors):
    weights are 4-dp-rounded then scaled to INTEGERS, so every dot
    product and squared norm is an exact BIGINT sum — no float
    accumulation whose value could depend on shuffle order — and the
    only float ops are the final single divide/sqrt/round per candidate.
    Scale shape: the candidate join is gated to the QUERY's own terms
    (vocabulary-bounded, like the bm25 query filter), norms are one
    map-side-combined rollup of the weight table, and the query vector
    + its norm ride along as broadcast one-sided frames."""
    n_docs = df.count()  # single aggregate probe (tfidf_top_terms discipline)
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
    wtab = tf.join(dfreq, "term").select(
        "id", "term",
        F.round(F.round(F.col("tf") * idf, 4) * 10000).cast("long").alias("w"),
    )
    norms = wtab.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("norm2"))
    qv = wtab.where(F.col("id") == MLT_QUERY_ID).select("term", F.col("w").alias("qw"))
    qnorm = norms.where(F.col("id") == MLT_QUERY_ID).select(
        F.col("norm2").alias("qnorm2")
    )
    dots = (
        wtab.where(F.col("id") != MLT_QUERY_ID)
        .join(F.broadcast(qv), "term")
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    cosine = F.round(
        F.col("dot")
        / F.sqrt(F.col("norm2").cast("double") * F.col("qnorm2").cast("double")),
        4,
    )
    scored = (
        dots.join(norms, "id")
        .join(F.broadcast(qnorm))
        .select(F.col("id").alias("doc_id"), cosine.alias("cosine"))
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )
