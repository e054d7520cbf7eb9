"""Inverted-index construction: term -> posting list over the corpus.

The web-scale retrieval primitive (search over the extracted corpus,
decontamination lookups, quality-term audits): for every term above a
document-frequency floor, the sorted list of documents containing it plus
corpus statistics. This is the corpus-wide sibling of the per-document
extraction dialects (reference one_key_process.py:281-340) — the same
token vocabulary (``TOKEN_PATTERN``), aggregated the other way around.

Plan shape (what matters at 100 TB):
  explode(tokens)            -- JVM regexp, no Python
  -> groupBy(term, doc) tf   -- shuffle 1, map-side combine collapses
                                repeats before the wire
  -> groupBy(term) postings  -- shuffle 2, vocabulary-keyed; the posting
                                array is built by collect_list AFTER tf
                                compression, so each doc contributes one
                                element, not one per occurrence
  -> df floor/ceiling filter -- drops hapax noise (min_df) and stopword
                                monsters (max_df) so no posting array
                                exceeds max_df entries: bounded row width
                                by construction, no skew bomb.

Postings are rendered as a comma-joined sorted string (deterministic,
hash-comparable across engines); df/cf are exact longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def inverted_index(df: DataFrame) -> DataFrame:
    """(term, df, cf, postings): documents per term (df), total
    occurrences (cf), and the comma-joined ascending doc-id posting list.
    Terms with df < 2 are dropped (hapax noise), and so are terms in more
    than 90% of the corpus (a scale-invariant ceiling; costs one count()
    driver scalar, the same probe tfidf_top_terms pays)."""
    max_df = int(0.9 * df.count())
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("term"),
    )
    tf = toks.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    inv = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("id")), lambda i: i.cast("string")
            ),
            ",",
        ).alias("postings"),
    )
    return inv.where((F.col("df") >= 2) & (F.col("df") <= max_df)).select(
        "term", "df", "cf", "postings"
    )


def positional_postings(df: DataFrame, vocab: list[str]) -> DataFrame:
    """(term, id, pos) positional postings — the phrase-query sibling of
    ``inverted_index``. ``vocab`` prunes to the query's own terms BEFORE
    anything shuffles (the bm25 query-vocab-filter discipline): for a
    phrase lookup the corpus contributes only rows for the phrase's
    terms, not its whole token stream."""
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("pos", "term"),
    )
    return toks.where(F.col("term").isin(*sorted(set(vocab)))).select("term", "id", "pos")


def phrase_search(df: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase retrieval: documents containing the token sequence
    ``phrase``, with match counts. Columns: doc_id, n_matches.

    Classic positional-postings intersection: anchor on the phrase's
    first term, then one equi-join per remaining term on
    (id, pos + offset). Every join is keyed — no cartesian — and the
    corpus-side stream was already pruned to the phrase's own terms, so
    the joined relations are bounded by those terms' postings (at 100 TB
    the same df-ceiling guard as ``inverted_index`` applies to stopword-
    only phrases; AQE handles a skewed hot term). Duplicate terms in the
    phrase are fine: each position's join sees its own offset."""
    if not phrase:
        raise ValueError("phrase must have at least one term")
    terms = [t.lower() for t in phrase]
    pos = positional_postings(df, vocab=terms)
    acc = (
        pos.where(F.col("term") == terms[0])
        .select("id", F.col("pos").alias("start"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = pos.where(F.col("term") == t).select(
            "id", (F.col("pos") - i).alias("start")
        )
        acc = acc.join(nxt, ["id", "start"])
    return acc.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_matches")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
# The four settings below are read at call time.
RRF_TOPK = 10  # fused ranks rrf_fuse keeps
BM25_TOPK = 15  # documents bm25_topk ranks (expansion_terms' feedback set)
EXPANSION_K_TERMS = 8  # terms expansion_terms returns
# the search query bm25_topk, expansion_terms and snippets serve
SEARCH_TERMS = ("spark", "vector", "merge")


def rrf_fuse(rankings: list[DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of ranked lists.

    Each input carries (doc_id, rank); fused score = sum over lists of
    1/(RRF_K + rank) for the lists the doc appears in. The canonical hybrid-
    retrieval combiner (lexical BM25 + dense cosine) because it needs no
    score calibration — only ranks. Inputs are top-k lists (tiny), so
    the union + one groupBy is driver-free and broadcast-cheap at any
    corpus scale; determinism: ranks are ints, each doc sums at most
    len(rankings) identical-order dyadic terms, ties break by id.
    Columns: doc_id, rrf_score (6dp), fused_rank (the top ``RRF_TOPK``)."""
    from functools import reduce

    parts = [
        r.select(
            F.col("doc_id"),
            (F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank").cast("double"))).alias("s"),
        )
        for r in rankings
    ]
    allp = reduce(lambda a, b: a.unionByName(b), parts)
    scored = allp.groupBy("doc_id").agg(F.round(F.sum("s"), 6).alias("rrf_score"))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= RRF_TOPK)
        .orderBy("fused_rank")
    )


def expansion_terms(df: DataFrame) -> DataFrame:
    """RM3-style pseudo-relevance-feedback query expansion: the
    ``EXPANSION_K_TERMS`` terms that characterize the ``SEARCH_TERMS``
    query's BM25 top-``BM25_TOPK`` documents, scored by feedback-tf x
    corpus-idf, excluding the seed terms and stopwords. Columns: term,
    weight (4dp), rank — the expanded query is seed + these terms, re-run
    through ``bm25_topk``.

    Scale shape: the feedback doc-id list is BM25_TOPK rows (broadcast
    semi-join gates the token stream), corpus df comes from the same
    single tokenize projection with map-side combine, and only the
    candidate-term rollup shuffles. idf = ln((N+1)/(df+1)) — the tfidf
    family convention, so the twin shares the literal formula."""
    from ..functions.text import STOPWORDS

    seed = sorted({t.lower() for t in SEARCH_TERMS})
    fb_ids = bm25_topk(df).select("doc_id")
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("term"),
    )
    n_docs = df.count()
    dft = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    fb_tf = (
        toks.join(
            F.broadcast(fb_ids.select(F.col("doc_id").alias("id"))), "id", "left_semi"
        )
        .where(~F.col("term").isin(*seed) & ~F.col("term").isin(*STOPWORDS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("fb_tf"))
    )
    weight = F.round(
        F.col("fb_tf")
        * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)),
        4,
    )
    scored = fb_tf.join(dft, "term").select("term", weight.alias("weight"))
    w = Window.orderBy(F.desc("weight"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= EXPANSION_K_TERMS)
        .orderBy("rank")
    )


SNIPPET_WINDOW = 20  # tokens per snippet window


def snippets(df: DataFrame) -> DataFrame:
    """Search-result snippets: for each document containing any
    ``SEARCH_TERMS`` term, the densest ``SNIPPET_WINDOW``-token span drawn from the aligned AND
    half-offset window grids (a sliding-span approximation: a dense run
    of hits straddling an aligned boundary — e.g. adjacent hits at
    positions 19 and 20 — lands whole in the half-offset window that
    covers it, so it is never scored as two 1-hit windows). Ties: the
    span whose first hit sits closest to the span start (the snippet
    leads with the match), then the earliest span. Columns: doc_id,
    start, n_hits, snippet.

    Plan shape: ONE tokenization projection feeds both the hit counter
    (vocab-filtered positional stream -> hits per (doc, span-start) with
    map-side combine; each hit fans out to at most 2 candidate starts)
    and the snippet cut (array slice + join — the text never explodes);
    the per-doc argmax runs over span-count rows, bounded by
    2 * doclen / SNIPPET_WINDOW. Everything JVM-side."""
    terms = sorted({t.lower() for t in SEARCH_TERMS})
    half = SNIPPET_WINDOW // 2
    toks = df.select(
        F.col("doc_id").alias("id"),
        word_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("tk"),
    )
    pos = toks.select(
        "id", F.posexplode("tk").alias("pos", "term")
    ).where(F.col("term").isin(terms))
    aligned = (F.col("pos") / SNIPPET_WINDOW).cast("int") * SNIPPET_WINDOW
    offset = ((F.col("pos") - half) / SNIPPET_WINDOW).cast("int") * SNIPPET_WINDOW + half
    starts = pos.select(
        "id",
        "pos",
        F.explode(
            F.when(F.col("pos") >= half, F.array(aligned, offset))
            .otherwise(F.array(aligned))
        ).alias("start"),
    )
    hits = (
        starts.groupBy("id", "start")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").alias("first_hit"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("n_hits"),
        F.asc(F.col("first_hit") - F.col("start")),
        F.asc("start"),
    )
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(toks, "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("start").cast("long").alias("start"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.array_join(
                F.slice(F.col("tk"), F.col("start") + 1, SNIPPET_WINDOW), " "
            ).alias("snippet"),
        )
    )


def bm25_topk(df: DataFrame) -> DataFrame:
    """BM25 ranked retrieval: top-``BM25_TOPK`` documents for the
    ``SEARCH_TERMS`` bag of query terms (Robertson/Sparck Jones; the Lucene
    idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5)), which stays positive for
    df > N/2). Output: (doc_id, score, rank), score rounded to 4 dp.

    Plan shape (the 100 TB story): the token explosion is filtered to the
    query vocabulary BEFORE any shuffle, so the tf aggregation moves
    O(docs-containing-a-query-term) rows, never the full postings
    universe; per-term df and the corpus (N, avgdl) stats are tiny
    aggregates that come back as broadcast joins; the final ranking is
    TakeOrderedAndProject (per-partition top-k, no global sort). Float
    discipline for the DuckDB twin: avgdl is rounded to 6 dp on both
    engines before it enters a score, scores to 4 dp before ranking.
    """
    terms = sorted({t.lower() for t in SEARCH_TERMS})
    toks = df.select(
        F.col("doc_id").alias("id"),
        word_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    doclen = toks.select("id", F.size("toks").cast("long").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("dl") / F.count(F.lit(1)), 6).alias("avgdl"),
    )
    qtf = (
        toks.select("id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = qtf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (1.2 + 1)
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        qtf.join(F.broadcast(dft), "term")
        .join(doclen, "id")
        .join(F.broadcast(stats))
        .groupBy("id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    top = (
        scored.orderBy(F.desc("score"), F.asc("id"))
        .limit(BM25_TOPK)
        .select(F.col("id").alias("doc_id"), "score")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # k rows: trivial
    return top.withColumn("rank", F.row_number().over(w))
