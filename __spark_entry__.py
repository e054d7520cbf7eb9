"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship: main-content extraction over pages built
                       deterministically from the sf0.001 documents table.
``REGISTRY``         — the query table, one row per query: name ->
                       (builder, witness). witness is None for the queries
                       in the driver's correctness window; every other row
                       names the in-window query that runs the same
                       operator or plan shape.
``queries()``        — the in-window builders (witness None).
``extra_queries()``  — the other builders (pytest-checked only).
``oracle_sql()`` and ``extra_oracle_sql()`` — the DuckDB twins of the two
                       sets, from ``_oracle_sql_all()`` (keyed like REGISTRY).

Twin dialect notes: regex patterns are restricted to constructs meaning the
same in Java regex and RE2; every DuckDB regexp_replace uses the 'g' flag
because Spark's replaces all matches by default. Floats are rounded (4 dp;
money 2 dp) on BOTH sides so summation order can't flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions.text import (
    TOKEN_PATTERN,
    canonical_words,
    fingerprint_md5,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    whitespace_token_count,
)
from ocr_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash64,
    token_jaccard_pairs,
)
from ocr_spark.functions.timestamps import parse_epoch_filename, synth_filename
from ocr_spark.operators.analytics import (
    asof_prior_event,
    moving_avg,
    pivot_event_values,
    rollup_event_stats,
    session_stats,
    topk_per_group,
)
from ocr_spark.operators.extract_op import extract_pages
from ocr_spark.operators.multimodal import media_features
from ocr_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    knn_brute_force,
)
from ocr_spark.operators.validate import (
    failing_check_topk,
    validate_documents,
    validation_report,
)
from ocr_spark.sources.pages import pages_from_documents, pdf_pages_from_documents


SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _with_engine_conf(fn):
    """The driver calls queries() with ITS OWN SparkSession; every
    timestamp-bearing oracle assumes the engine's pinned UTC session
    timezone (and Arrow execution for the pandas-UDF paths). Apply the
    runtime-settable engine confs before each query so correctness does
    not depend on the caller's session defaults."""
    import functools

    from ocr_spark.session import apply_engine_conf

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        apply_engine_conf(spark)
        return fn(spark, sf_dir)

    return wrapped


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (S1/S5/E1/P*/F* composite) over pages wrapped
    from the documents table. Deterministic template => SQL oracle exists."""
    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, repartition=True)
    return out.select("url", "text", "extract_status", "content_kind", "n_blocks")


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-emitting extraction (the north-rule "extracted text/spans per
    document" contract): one row per kept block with its [span_start,
    span_end) char span into the decoded html. The DuckDB twin replays the
    deterministic page template's offset arithmetic, so the driver hash-
    checks the parser's actual source offsets."""
    from ocr_spark.operators.extract_op import extract_page_spans

    pages = pages_from_documents(spark, sf_dir)
    return extract_page_spans(pages)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: exact dedup by canonical-text fingerprint (hash groupBy)."""
    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-layer: token counting + quality scoring, all JVM expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        whitespace_token_count("text").alias("n_ws_tokens"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
        quality_score("text").alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12-analog heuristic language ID vs the labeled lang column."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        (lang_id("text") == F.col("lang")).alias("agrees"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (portable md5 of canonical form)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint_md5("text").alias("fp")
    )


def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/token-set jaccard near-dup pairs (exact, SQL-expressible)."""
    return token_jaccard_pairs(_t(spark, sf_dir, "documents"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, jaccard-verified. The md5-based
    universal-hash family makes the full LSH pipeline SQL-replayable, so
    this has an exact DuckDB twin (bands, bucket caps, and all)."""
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures (vectorized pandas UDF). The md5-based
    token-hash family makes the signature SQL-replayable, so this has an
    exact DuckDB twin (64-way bit-vote unnest)."""
    return simhash64(_t(spark, sf_dir, "documents"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 query embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, [float(x) for x in qvec])


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + planted near-duplicates: vec_id < 8 re-appear as
    vec_id+1000000 scaled by 1.02 (same direction => same LSH bucket,
    cosine 1.0) so the near-dup query provably witnesses its operator —
    the r01 entry returned 0 rows, which taught the driver nothing."""
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("embedding"))
    planted = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.02).alias("embedding"),
    )
    return base.unionByName(planted)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup pairs with 1-bit multiprobe and
    hot-bucket caps; seeded planes are inlined into the DuckDB twin as
    literals, so this is fully oracle-checked."""
    return embedding_neardup_pairs(_neardup_corpus(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-band near-dup pairs over documents + planted dups
    (doc_id % 50 == 0 re-appears as doc_id+1000000 with one token appended
    -> small hamming distance). Exact DuckDB twin: md5 token hashes, band
    shift/mask, bucket caps, and popcount verification all replay in SQL."""
    from ocr_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.pmod(F.col("doc_id"), F.lit(50)) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzmarker")).alias("text"),
    )
    return simhash_pairs(d.unionByName(planted))


def q_validate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1-V10 analog: expectations + completeness + status rollup + report."""
    return validation_report(validate_documents(_t(spark, sf_dir, "documents")))


def q_doc_assessment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-validator per-row shapes: V2 length bands, V4 min-over-
    estimates, V5 symmetry ratio/check, V9 graded assessment label."""
    from ocr_spark.operators.validate import assess_documents

    return assess_documents(_t(spark, sf_dir, "documents"))


def q_corr_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 correlation flags: expected-correlated column pairs flagged when
    Pearson r drops below threshold (one aggregate, stack unpivot)."""
    from ocr_spark.operators.validate import correlation_flags

    return correlation_flags(_t(spark, sf_dir, "documents"))


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-layer parity: TPC-H-Q1-shaped multi-agg (count/sum/avg/min/max)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/O2 parity: broadcast equi-join + groupBy + top-10."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/U1 parity: per-group counts + distinct counts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events table (epoch buckets keep
    the comparison timezone-free)."""
    e = _t(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).alias("hour_bucket")
    return (
        e.groupBy(hour, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour_bucket", "event_type")
    )


def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resume primitive (north_rule): pages left_anti committed keys —
    modeled as documents minus an already-committed deterministic subset."""
    d = _t(spark, sf_dir, "documents")
    committed = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select("doc_id")
    return (
        d.join(committed, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/W parity: top-2 events per user by value (window row_number),
    carrying each kept event's trailing moving average (ROWS BETWEEN
    2 PRECEDING frame — the window-frame aggregate witness folded in from
    the standalone moving_avg extra)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-2, Window.currentRow)
    )
    e = e.withColumn("mavg_value", F.round(F.avg("value").over(frame), 4))
    return topk_per_group(e).select(
        "user_id", "event_id", F.round(F.col("value"), 2).alias("value"), "rank",
        "mavg_value",
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (lag + running sum) -> per-user session stats."""
    return session_stats(_t(spark, sf_dir, "events"))


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-analog pivot: one row per user, one summed column per event type."""
    return pivot_event_values(_t(spark, sf_dir, "events"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based per-stratum sampling (corpus mixing): en at
    50%, zh at 25%, everything else at 10% — pure map-side filter, same
    rows on every run/partitioning/engine."""
    from ocr_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, {"en": 0.5, "zh": 0.25}).select(
        "doc_id", "lang"
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing an 8-token-gram with
    the held-out benchmark slice (doc_id % 97 == 0). Verbatim 'memorized'
    copies of the benchmark are planted (id + 1000000) so the check always
    witnesses real contamination."""
    from ocr_spark.operators.dedup import contamination_check

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.pmod(F.col("doc_id"), F.lit(97)) == 0
    bench = d.where(is_bench)
    corpus = d.where(~is_bench).unionByName(
        bench.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return contamination_check(corpus, bench)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: top-3 most distinctive terms per document (explode ->
    tf -> df -> smoothed-idf join -> per-doc window top-k, all expressions)."""
    from ocr_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN: 3 probe vectors vs the corpus (broadcast + window top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return knn_brute_force(emb, probes)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary-payload metadata + magic sniff + hashing
    over pages built from the documents table (decode stubbed; see
    operators/multimodal.py)."""
    pages = pages_from_documents(spark, sf_dir)
    return media_features(pages)


def q_av_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video CONTAINER-header metadata (duration / sample rate /
    channels) over deterministic WAV / MP4 / MP3 payloads built from the
    documents table — header-true parsing, no decode libs (the A/V twin of
    media_meta's image-header path; operators/multimodal.py:parse_av_header).
    Every fourth payload is deliberately unparseable to witness the
    disclosed deterministic-stub fallback."""
    from ocr_spark.operators.multimodal import av_features
    from ocr_spark.sources.pages import av_pages_from_documents

    pages = av_pages_from_documents(spark, sf_dir)
    return av_features(pages)


def q_media_hash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-bad media hash gate: the blocklist is the sha256 set of every
    11th page's payload (self-derived plant, the bloom_gate pattern), so
    exactly those pages must come back blocked. Exact DuckDB twin (the
    page payload is a deterministic string, so SQL rebuilds the bytes
    and replays the digest)."""
    from ocr_spark.operators.multimodal import media_hash_gate

    pages = pages_from_documents(spark, sf_dir)
    did = F.element_at(F.split(F.col("url"), "/"), -1).cast("long")
    bl = pages.where(did % 11 == 0).select(
        F.lower(F.sha2(F.col("html"), 256)).alias("sha256")
    )
    return media_hash_gate(pages, bl)


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary/PDF branch of the extraction dispatch (E-layer + magic
    sniff): documents wrapped as PDF payloads (raw + FlateDecode), extracted
    through the same shared core."""
    pages = pdf_pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, repartition=False)
    return out.select("url", "text", "extract_status", "content_kind", "n_blocks")


def q_union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of the HTML and PDF extraction branches — the SURVEY
    U-layer composition (HTML branch UNION ALL PDF branch outputs)."""
    return q_flagship_extract(spark, sf_dir).unionByName(
        q_pdf_extract(spark, sf_dir)
    )


def q_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchical totals (per-type + grand total, one pass)."""
    return rollup_event_stats(_t(spark, sf_dir, "events"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking, expression-only: documents fan out to
    overlapping 60-token windows at stride 50 via split/sequence/explode/
    slice — no Python in the plan."""
    from ocr_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: chunks -> fixed-token-budget training sequences via
    the two-pass range-partitioned global cumsum (partition-local window +
    broadcast per-range offsets — no single-partition sort)."""
    from ocr_spark.operators.chunking import chunk_documents, pack_sequences

    return pack_sequences(chunk_documents(_t(spark, sf_dir, "documents")))


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas: exact per-language length quantiles (numpy
    linear interpolation == SQL quantile_cont)."""
    from ocr_spark.operators.analytics import group_quantiles

    return group_quantiles(_t(spark, sf_dir, "documents"))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (the one aggregate shape the
    DataFrame API doesn't expose directly): two independent groupings plus
    the grand total in a single Expand + hash aggregate. The events frame
    goes in as a ``spark.sql`` argument, so no view is left in the caller's
    session."""
    return spark.sql(
        """
        WITH e AS (SELECT event_type, user_id % 2 AS user_bucket, value
                   FROM {events})
        SELECT event_type, user_bucket,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               CAST(grouping(event_type) AS INT) AS g_type,
               CAST(grouping(user_bucket) AS INT) AS g_bucket
        FROM e
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        ORDER BY g_type, g_bucket, event_type, user_bucket
        """,
        events=_t(spark, sf_dir, "events"),
    )


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window-frame aggregates (ROWS BETWEEN 2 PRECEDING)."""
    return moving_avg(_t(spark, sf_dir, "events"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT / UNION ALL) over doc-id sets."""
    d = _t(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("doc_id")
    long_docs = d.where(F.col("n_chars") > 300).select("doc_id")
    both = en.intersect(long_docs).withColumn("op", F.lit("en_and_long"))
    only = en.exceptAll(long_docs).withColumn("op", F.lit("en_not_long"))
    return both.unionByName(only)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer + nprobe cell probe +
    exact re-rank within probed cells (the 100 TB ANN scale path)."""
    return ivf_topk(_t(spark, sf_dir, "embeddings"))


def q_error_top_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 analog: top-k failing validation checks by failure count."""
    return failing_check_topk(validate_documents(_t(spark, sf_dir, "documents")))


def q_epoch_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 analog: recover epoch-ms/epoch-s timestamps from filename keys."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", synth_filename(F.col("doc_id")).alias("filename")
    )
    return parse_epoch_filename(d).select("doc_id", "ts_parsed", "ts_precision")


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers that placed at least one
    high-value order — no duplication, no columns from the right side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation rich-customer vs rich-supplier counts —
    the acctbal filters make the nation sets asymmetric, so both null
    sides genuinely occur."""
    c = (
        _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 9000)
        .groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    )
    joined = c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
    return joined.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union + window encoding): each purchase matched to the
    user's most recent click at or before it. Oracle: DuckDB native ASOF."""
    return asof_prior_event(_t(spark, sf_dir, "events"))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1:N fan-out: one row per sampled frame per payload
    (decode stubbed; deterministic fake sampler — operators/multimodal.py).
    frame_sha is engine-native (sha256 over binary, which the SQL twin
    can't express), so the query exposes the SQL-replayable columns."""
    from ocr_spark.operators.multimodal import frame_sample

    pages = pages_from_documents(spark, sf_dir)
    return frame_sample(pages).select("id", "frame_idx", "ts_ms", "decoder")


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: stub-decoded dimensions -> aspect-
    preserving fit (decode stubbed; geometry arithmetic exact-checked)."""
    from ocr_spark.operators.multimodal import image_resize

    pages = pages_from_documents(spark, sf_dir)
    return image_resize(pages)


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (exact DuckDB twin: inlined
    polynomial powers + rightmost-argmin window) -> substring-overlap candidate
    pairs (rows-only: the 61-bit polynomial rolling hash is engine-native)."""
    from ocr_spark.operators.dedup import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"))


def _messy_urls(df: DataFrame) -> DataFrame:
    """Deterministic adversarial-URL synth per doc_id: mixed-case scheme +
    host, rotating www./userinfo/port decorations, utm params, unsorted
    query params, fragments — every pathology url_canonicalize must
    normalize, reproducible in plain SQL."""
    d = F.col("doc_id")
    return df.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("HTTPS://"),
            F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit("crawler@")).otherwise(F.lit("")),
            F.lit("h"),
            (d % 23).cast("string"),
            F.lit(".Example.ORG"),
            F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            d.cast("string"),
            F.when(d % 4 == 0, F.lit("?utm_source=x&b=2&a=1#frag"))
            .when(d % 4 == 1, F.lit("?a=1"))
            .otherwise(F.lit("")),
        ).alias("url"),
    )


_SQL_MESSY_URL = (
    "'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN 'crawler@' ELSE '' END"
    " || 'h' || (doc_id % 23) || '.Example.ORG'"
    " || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END"
    " || '/p/' || doc_id"
    " || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1#frag'"
    "         WHEN doc_id % 4 = 1 THEN '?a=1' ELSE '' END"
)


def q_url_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse + canonicalization columns (F-family for the web tier):
    scheme/host/domain/path/canonical query/canonical url, all JVM
    regexp expressions with byte-identical SQL twins."""
    from ocr_spark.functions import urls as U

    d = _messy_urls(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        U.url_scheme("url").alias("scheme"),
        U.url_host("url").alias("host"),
        U.registered_domain().alias("domain"),
        U.url_path("url").alias("path"),
        U.url_query_canonical("url").alias("query_canon"),
        U.url_canonicalize("url").alias("url_canon"),
    )


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl skew profile over canonical hosts (the grouping that
    drives politeness budgets and salting decisions)."""
    from ocr_spark.functions import urls as U

    d = _messy_urls(_t(spark, sf_dir, "documents"))
    return d.groupBy(U.url_host("url").alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def _linky_pages(df: DataFrame) -> DataFrame:
    """Deterministic linky-HTML synth per doc_id, expression-only so the
    DuckDB twin rebuilds the identical bytes: every resolution branch the
    link extractor implements (absolute, protocol-relative, root-relative,
    path-relative, fragment-only, mailto) appears, keyed by doc_id % 6,
    plus one always-external absolute link."""
    d = F.col("doc_id")
    w = F.coalesce(
        F.nullif(
            F.regexp_extract(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), "[a-z]{3,}", 0
            ),
            F.lit(""),
        ),
        F.lit("page"),
    )
    s = lambda c: c.cast("string")  # noqa: E731
    href0 = (
        F.when(d % 6 == 0, F.concat(F.lit("http://h"), s((d * 3) % 23),
                                    F.lit(".example.org/t/"), s(d)))
        .when(d % 6 == 1, F.concat(F.lit("//h"), s((d + 1) % 23),
                                   F.lit(".example.org/pr")))
        .when(d % 6 == 2, F.concat(F.lit("/"), w, F.lit("/"), s(d)))
        .when(d % 6 == 3, F.concat(w, F.lit(".html")))
        .when(d % 6 == 4, F.lit("#top"))
        .otherwise(F.lit("mailto:ops@example.org"))
    )
    href1 = F.concat(F.lit("https://h"), s(d % 11),
                     F.lit(".example.net/a/"), s(d % 5))
    url = F.concat(F.lit("https://h"), s(d % 23),
                   F.lit(".example.org/p/"), s(d % 7), F.lit("/page.html"))
    html = F.concat(
        F.lit("<html><head><title>Doc "), s(d),
        F.lit("</title></head><body><p>intro</p><a href=\""), href0,
        F.lit("\">"), w, F.lit(" one</a> <a href=\""), href1,
        F.lit("\">two</a></body></html>"),
    )
    return df.select("doc_id", url.alias("url"), html.alias("html_text"))


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph extraction (the second product of the extraction tier):
    harvest hrefs from deterministic linky pages, resolve each against its
    page URL per RFC 3986 crawl cases, drop non-edges (fragments, mailto),
    emit (doc_id, url, pos, href, resolved, dst_host, internal). Pure
    expressions — zero shuffle, streaming-safe."""
    from ocr_spark.operators.links import outlinks

    return outlinks(_linky_pages(_t(spark, sf_dir, "documents")))


def q_host_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph degree profile over external resolved edges: out/in
    link and distinct-peer counts per host, full-outer merged (one hash
    agg on (src,dst), two on host)."""
    from ocr_spark.operators.links import host_degree, outlinks

    return host_degree(outlinks(_linky_pages(_t(spark, sf_dir, "documents"))))


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (8 rounds, d=0.85) over the host graph — the
    classic crawl-quality prior. Iterative joins with a reused src_host
    partitioning, per-round contrib caching, and localCheckpoint lineage
    truncation; dangling mass carried as a broadcast 1-row frame so no
    per-round driver action runs (one eager materialization at the end,
    after which every intermediate cache is released)."""
    from ocr_spark.operators.links import host_graph, outlinks, pagerank_hosts

    edges = outlinks(_linky_pages(_t(spark, sf_dir, "documents")))
    ranks = pagerank_hosts(host_graph(edges))
    return ranks.select("host", F.round("rank", 6).alias("rank"))


def q_trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (seeded-teleport PageRank, 8 rounds, d=0.85) over the
    same host graph as q_pagerank_hosts: teleport and dangling mass flow
    only to the three trusted seeds, so rank measures proximity-to-trust
    (hosts unreachable from the seeds score ~0 where classic PageRank
    still pays them the uniform teleport floor). Same iteration
    machinery; the twin generalizes the unrolled-CTE pagerank oracle
    with the seed CASE teleport."""
    from ocr_spark.operators.links import host_graph, outlinks, trustrank_hosts

    edges = outlinks(_linky_pages(_t(spark, sf_dir, "documents")))
    ranks = trustrank_hosts(host_graph(edges))
    return ranks.select("host", F.round("rank", 6).alias("rank"))


def q_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text term profile per target host — what OTHER sites call a
    host (the classic retrieval/quality signal). Whole-tag href+anchor
    pairing, external edges only, top-3 terms per host with deterministic
    tie-break. One (host, term) hash agg + one bounded per-host window."""
    from ocr_spark.operators.links import anchor_terms, outlinks_with_text

    return anchor_terms(
        outlinks_with_text(_linky_pages(_t(spark, sf_dir, "documents")))
    )


def _canon_pages(df: DataFrame) -> DataFrame:
    """Deterministic canonical-declaration synth per doc_id: unique page
    URLs, with doc_id%4 selecting no-declaration / absolute-to-decade-
    leader / root-relative-self / root-relative-to-leader — exercising
    every resolution branch canonical_groups uses, plus >1-sized groups
    (each decade's b=1 members join their leader's group)."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    t = d - (d % 10)
    url = F.concat(F.lit("https://h"), s(d % 13),
                   F.lit(".example.org/c/"), s(d), F.lit(".html"))
    href = (
        F.when(d % 4 == 1, F.concat(F.lit("https://h"), s(t % 13),
                                    F.lit(".example.org/c/"), s(t),
                                    F.lit(".html")))
        .when(d % 4 == 2, F.concat(F.lit("/c/"), s(d), F.lit(".html")))
        .when(d % 4 == 3, F.concat(F.lit("/c/"), s(t), F.lit(".html")))
    )
    link_tag = F.when(
        href.isNotNull(),
        F.concat(F.lit('<link rel="canonical" href="'), href, F.lit('"/>')),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head>"), link_tag,
                    F.lit("</head><body><p>c</p></body></html>"))
    return df.select("doc_id", url.alias("url"), html.alias("html_text"))


def q_canonical_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical grouping — crawl-side dedup with zero content
    comparison: resolve each page's declared canonical against its own
    URL, group by target, keeper = self-declaring page else min id."""
    from ocr_spark.operators.links import canonical_groups

    return canonical_groups(_canon_pages(_t(spark, sf_dir, "documents")))


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-lite ingest edge: documents -> deterministic segment bytes ->
    record splitter -> pages; emits the decoded payload so the oracle can
    assert the full build/parse round trip is byte-exact per url (the
    north rule's invariant applied to the ingest side)."""
    from ocr_spark.sources.warc import warc_pages, warc_segments_from_documents

    pages = warc_pages(warc_segments_from_documents(spark, sf_dir))
    return pages.select(
        "url",
        F.decode("html", "UTF-8").alias("text"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style conversion-record export (the Common-Crawl text-derivative
    archive format) over documents wrapped as extracted pages — pure JVM
    concat/digest/date_format projection, zero shuffle
    (sources/warc.py:wet_records). The oracle replays the full record
    string, digest included, byte-for-byte."""
    from ocr_spark.sources.warc import wet_records

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("warc://docs.example.com/"), F.col("doc_id")).alias("url"),
        F.expr(
            "timestampadd(SECOND, doc_id, timestamp'2026-02-03 04:05:06')"
        ).alias("warc_ts"),
        "text",
    )
    return wet_records(pages)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule filter with first-failing-rule reason labels;
    every document survives to the output with its measurements (kept +
    drop_reason), so one result drives both the clean-corpus selection
    and the drop audit. Exact DuckDB twin."""
    from ocr_spark.operators.quality import quality_filter

    return quality_filter(_t(spark, sf_dir, "documents"))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-self-trained bigram LM score per document
    (smoothed transition log-likelihood against the corpus's own counts).
    Exact DuckDB twin."""
    from ocr_spark.operators.quality import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed n-gram linear quality classifier (the
    FineWeb-Edu/DCLM-class learned gate), synthetic-model mode: weights
    are a pure md5 expression of the feature bucket so the DuckDB twin
    replays scoring end-to-end (tokens -> unigram+bigram features ->
    md5 bucket -> weight -> mean+bias -> 4-dp sigmoid -> keep).
    Production mode (a trained weight table, broadcast-joined) is
    plan-pinned in tests/test_classifier.py."""
    from ocr_spark.operators.classifier import classifier_score

    return classifier_score(_t(spark, sf_dir, "documents"))


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing: bigram-LM score per doc, exact
    per-language tercile via the distributed ntile (range exchange +
    broadcast offsets — no per-language global sort, no driver collect).
    Ranks read the 4-dp rounded score so the DuckDB row_number twin is
    bit-identical."""
    from ocr_spark.operators.ranking import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


def q_soft_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling (DCLM-style): keep each doc
    with probability = its classifier score, drawn from the portable md5
    bucket — the classifier -> soft-sample composition, reproducible
    across engines. Zero shuffle beyond the classifier's own aggregate."""
    from ocr_spark.operators.classifier import classifier_score
    from ocr_spark.operators.sampling import soft_sample

    qc = classifier_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "score"
    )
    return soft_sample(qc)


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist gate over synthesized hosts with
    subdomain depth: suffix-chain columns probed by broadcast joins (zero
    corpus shuffle), deepest matching rule wins, duplicate rule domains
    deduped min-category. Every row returns with (host, block_category,
    kept)."""
    from ocr_spark.operators.blocklist import blocklist_gate

    d = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(
                d % 4 == 0,
                F.concat(F.lit("m"), (d % 3).cast("string"), F.lit(".")),
            ).otherwise(F.lit("")),
            F.lit("h"),
            (d % 23).cast("string"),
            F.lit(".example.org/p/"),
            d.cast("string"),
        ).alias("url"),
    )
    rules = spark.createDataFrame(
        [
            ("h3.example.org", "adult"),
            ("h3.example.org", "zz-dup"),  # exercises min-category dedup
            ("h9.example.org", "ads"),
            ("m1.h5.example.org", "tracker"),
        ],
        "domain string, category string",
    )
    return blocklist_gate(pages, rules).select(
        "doc_id", "host", "block_category", "kept"
    )


def q_cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index parse -> WARC range-read plan: synthesized CC-style
    index lines (1-in-29 corrupted), JVM regex frame + from_json blob,
    then per-WARC-file offset-ordered batches. Malformed lines audit
    under the NULL warc path; the per-file window is bounded by
    records-per-WARC, never corpus-wide."""
    from ocr_spark.sources.cdx import fetch_plan, parse_cdxj

    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 23).cast("string"))
    url = F.concat(host, F.lit(".example.org/p/"), d.cast("string"))
    ts14 = F.date_format(
        F.to_timestamp(F.lit("2026-02-03 04:05:06")) + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0), d.cast("double")
        ),
        "yyyyMMddHHmmss",
    )
    blob = F.concat(
        F.lit('{"url": "https://'), url,
        F.lit('", "mime": "text/html", "status": "200", "digest": "sha1:'),
        F.upper(F.substring(F.md5(url), 1, 16)),
        F.lit('", "length": "'), (F.lit(500) + d % 1500).cast("string"),
        F.lit('", "offset": "'), ((d * 2048) % 1000000).cast("string"),
        F.lit('", "filename": "crawl-data/seg-'), (d % 7).cast("string"),
        F.lit("/warc/f-"), (d % 13).cast("string"),
        F.lit('.warc.gz"}'),
    )
    lines = _t(spark, sf_dir, "documents").select(
        F.when(d % 29 == 0, F.concat(F.lit("corrupt "), d.cast("string")))
        .otherwise(
            F.concat(
                F.lit("org,example,"), host, F.lit(")/p/"), d.cast("string"),
                F.lit(" "), ts14, F.lit(" "), blob,
            )
        )
        .alias("value")
    )
    return fetch_plan(parse_cdxj(lines))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document structural repetition: duplicate-line
    fraction (count and char variants), duplicate-paragraph fraction, and
    top word-bigram character coverage, with the 'repetitive' gate.

    The shared documents table is single-line word soup, so the query
    first reshapes each doc into a DETERMINISTIC multi-line form both
    engines build identically (the planted-fixture pattern the embedding
    queries use): non-overlapping token pairs become lines, every 5 lines
    a paragraph, and docs with doc_id % 7 == 0 get their first ten tokens (one full
    5-line paragraph period) self-appended three times — the nav-menu/footer boilerplate mode the
    operator exists to catch, so duplicate-line, duplicate-paragraph and
    threshold-crossing rows are all non-vacuously exercised. Exact DuckDB
    twin, deliberately written relationally (unnest + groupBy) against
    the operator's zero-shuffle sorted-run fold."""
    from ocr_spark.operators.quality import repetition_stats

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        canonical_words(F.coalesce(F.col("text"), F.lit(""))), lambda x: x != ""
    )
    boost = F.slice(toks, 1, 10)
    toks_b = F.when(
        F.col("doc_id") % 7 == 0, F.concat(toks, boost, boost, boost)
    ).otherwise(toks)
    n = F.size(toks_b)
    pair_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1, F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    lines = F.transform(
        pair_idx,
        lambda i: F.concat(
            F.element_at(toks_b, i), F.lit(" "), F.element_at(toks_b, i + 1)
        ),
    )
    nl = F.size(lines)
    paras = F.when(
        nl >= 1,
        F.transform(
            F.sequence(F.lit(1), F.ceil(nl / F.lit(5.0)).cast("int")),
            lambda p: F.array_join(F.slice(lines, (p - 1) * 5 + 1, 5), "\n"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wrapped = d.select("doc_id", F.array_join(paras, "\n\n").alias("text"))
    return repetition_stats(wrapped)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: per-doc email/IPv4/phone counts plus the md5
    fingerprint of the REDACTED text, proving the rewrite byte-matches
    the oracle, not just the tallies. The corpus text carries no PII, so
    the query first plants deterministic contacts both engines construct
    identically (emails on even doc_ids + a second on %6, IPv4 on %3,
    E.164 phone on %5; ~1/5 of docs stay clean and must come back with
    zero counts). Exact DuckDB twin."""
    from ocr_spark.operators.pii import pii_redact

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    seeded = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(i % 2 == 0, F.concat(F.lit(" reach user"), s, F.lit("@example.com")))
        .otherwise(F.lit("")),
        F.when(i % 6 == 0, F.concat(F.lit(" cc admin"), s, F.lit("@mail.example.org")))
        .otherwise(F.lit("")),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit(" from 10."), (i % 256).cast("string"),
                F.lit(".0."), (i % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit(" call +1415555"),
                F.lpad((i % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return pii_redact(d.select("doc_id", seeded.alias("text")))


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host downsampling cap (over-represented-host control): at most
    15 docs per canonical host survive, chosen by the deterministic
    portable hash rank. Exact DuckDB twin."""
    from ocr_spark.functions import urls as U
    from ocr_spark.operators.sampling import cap_per_group

    u = _messy_urls(_t(spark, sf_dir, "documents")).select(
        "doc_id", U.url_host("url").alias("host")
    )
    return cap_per_group(u)


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-rules audit: deterministic per-host robots.txt (an
    agent-specific deny-all group that must NOT leak into '*' traffic,
    mixed-case directives, an empty Disallow, a non-rule line) parsed by
    the group-aware reader, prefix-matched against each url's path.
    Exact DuckDB twin."""
    from ocr_spark.functions import urls as U
    from ocr_spark.operators.robots import robots_disallow_rules, robots_filter

    u = _messy_urls(_t(spark, sf_dir, "documents")).select("doc_id", "url")
    hosts = u.select(U.url_host("url").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.concat(
            # the badbot group's deny-all applies only to badbot: under the
            # round-2 conservative (group-blind) reading every page would
            # have been blocked — this row witnesses group-awareness
            F.lit("User-agent: badbot\nDisallow: /\n\n"),
            F.lit("User-agent: *\nDisallow: /p/1\nDisallow:\nCrawl-delay: 5"),
            F.when(
                F.regexp_extract("host", r"h(\d+)\.", 1).cast("int") % 2 == 0,
                F.lit("\ndisallow: /p/2"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    rules = robots_disallow_rules(robots)
    return robots_filter(u, rules).select("doc_id", "host", "path", "allowed")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal: documents are assembled into
    multi-line pages with corpus-wide boilerplate (nav/footer on every
    page, a promo line on half) around the real text plus a unique marker
    line; line_dedup must strip exactly the boilerplate and keep content
    + markers in order. Exact DuckDB twin."""
    from ocr_spark.operators.dedup import line_dedup

    d = _t(spark, sf_dir, "documents")
    assembled = d.select(
        "doc_id",
        F.concat(
            F.lit("nav home about contact\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\nshared promo banner")
            ).otherwise(F.lit("")),
            F.lit("\nsite footer terms of service apply"),
            F.lit("\ndoc marker "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return line_dedup(assembled)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity boilerplate removal over documents with
    planted paragraphs: a common footer on every even document (df far
    above max_df=8 — must be dropped everywhere, including reflowed
    SPACING variants that the canonical identity reunites) and a rare
    paragraph on every 97th (df ~5 — must survive). Exact DuckDB twin."""
    from ocr_spark.operators.dedup import paragraph_dedup

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                # alternating whitespace variants: canonical identity
                # must reunite them into ONE hot paragraph
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.lit("\n\ncommon Footer  promo text"),
                ).otherwise(F.lit("\n\nCOMMON FOOTER PROMO TEXT")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 97 == 0, F.lit("\n\nrare appendix paragraph")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return paragraph_dedup(planted)


def q_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus 8-gram profile: top 20 grams by document frequency — the
    threshold-tuning instrument for the gram-based dedup family. Exact
    DuckDB twin."""
    from ocr_spark.operators.dedup import common_ngrams

    return common_ngrams(_t(spark, sf_dir, "documents"))


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-HOST site-chrome removal (the host-conditional half of the
    RefinedWeb line cleaning): documents are assembled into 20 synthetic
    hosts, each page carrying its host's welcome + footer chrome (100% of
    the host's pages — must be dropped), a host promo on 1/3 of pages and
    a cross-host 'powered by' line on ~1/7 (both BELOW the 0.5 host ratio —
    must stay, which a corpus-global cutoff would get wrong; the modulus
    is coprime to the host count so every host sees the survival case). Exact
    DuckDB twin."""
    from ocr_spark.operators.dedup import host_line_dedup

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example.com")
    )
    assembled = d.select(
        "doc_id",
        host.alias("host"),
        F.concat(
            F.lit("welcome to "), host, F.lit(" portal\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("\n"), host, F.lit(" promo of the week")),
            ).otherwise(F.lit("")),
            F.when(
                # modulus COPRIME to the 20-host assignment (ADVICE r3): with
                # %4 the line landed on 100% of pages for 5 hosts (dropped as
                # chrome) and 0% elsewhere, so the below-ratio survival path
                # was never exercised; %7 puts it on ~1/7 of EVERY host's
                # pages — genuinely below the 0.5 cutoff, must stay
                F.col("doc_id") % 7 == 0, F.lit("\npowered by examplecms")
            ).otherwise(F.lit("")),
            F.lit("\nall rights reserved "), host,
        ).alias("text"),
    )
    return host_line_dedup(assembled)


def q_blockwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blockword page gate over documents with planted hits:
    every 7th document gets one blockword appended (punctuation-attached,
    so the regex tokenization is exercised), every 11th gets two distinct
    ones. Exact DuckDB twin."""
    from ocr_spark.operators.quality import blockword_filter

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" xbadwordx.")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" XBannedX xforbiddenx")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return blockword_filter(planted)


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth checkpoints over the documents table:
    cumulative token count, distinct-type count, and type/token ratio at
    power-of-two document prefixes — the corpus-QA saturation curve (flat
    = boilerplate tail, linear = noise). No global sort: types collapse
    to first-occurrence docs, histograms are docs-bounded, checkpoints
    arrive by broadcast range join (operators/textprofile.vocab_growth).
    Exact DuckDB twin (same tokenizer, same strict-prefix fold)."""
    from ocr_spark.operators.textprofile import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"))


def q_script_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script mix profile over documents with planted non-Latin
    content: every 10th document is REPLACED by a CJK-dominant mixed
    string (dominance must flip), and of the rest every %4==1/2/3 doc
    gets Cyrillic / CJK / Arabic words appended (fractions must be
    non-zero, Latin stays dominant). Exact DuckDB twin."""
    from ocr_spark.operators.textprofile import script_stats

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit("数据处理系统库 данные x"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 4 == 1, F.lit(" привет мир данные сеть"))
                .when(F.col("doc_id") % 4 == 2, F.lit(" 数据处理系统结构"))
                .when(F.col("doc_id") % 4 == 3, F.lit(" بيانات النظام شبكة"))
                .otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    return script_stats(planted)


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-likeness gate over documents with planted code: every 6th doc
    gets a def/return snippet with indented lines appended (keyword+indent
    clause), every %6==5 doc is replaced by symbol-dense JSON (symbol
    clause), every %6==3 doc gets a single keyword with no indent (must
    NOT trigger). Exact DuckDB twin."""
    from ocr_spark.operators.textprofile import code_detect

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 5,
            F.lit('{"a": [1, 2], "b": {"c": 3}}'),
        )
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 6 == 0,
                    F.lit("\ndef main():\n    x = [1, 2];\n    return x;"),
                )
                .when(F.col("doc_id") % 6 == 3, F.lit("\nvar x"))
                .otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    return code_detect(planted)


def q_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused one-pass signal table (RedPajama-v2 shape): 19 signals —
    token/quality stats, language guess, content fingerprint, script mix,
    code-likeness — in ONE projection over ONE scan (plan-pinned zero
    shuffle). Exact DuckDB twin re-states every signal in one SELECT."""
    from ocr_spark.operators.signals import quality_signals

    return quality_signals(_t(spark, sf_dir, "documents"))


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward a target exemplar set (English
    docs with doc_id % 5 == 0): hashed-ngram log-likelihood-ratio weights
    + md5-uniform Gumbel-top-k selection of 50 documents. The whole
    pipeline — bucket counts, Laplace-smoothed log ratios, Gumbel keys,
    the selected set — is replayed in the DuckDB twin."""
    from ocr_spark.operators.dsir import dsir_sample

    d = _t(spark, sf_dir, "documents")
    target = d.where((F.col("lang") == "en") & (F.col("doc_id") % 5 == 0))
    return dsir_sample(d, target)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-run audit table (K5/A5-A8 at corpus level): per cleaning
    disposition, document counts and mean quality/LM measurements. Exact
    DuckDB twin composes the clean-corpus, quality, and LM oracles."""
    from ocr_spark.operators.corpus import clean_corpus
    from ocr_spark.operators.quality import bigram_lm_scores, quality_filter

    d = _t(spark, sf_dir, "documents")
    cc = clean_corpus(d)
    qf = quality_filter(d).select("doc_id", "n_words")
    lm = bigram_lm_scores(d).select("doc_id", "lm_logprob")
    return (
        cc.join(qf, "doc_id")
        .join(lm, "doc_id")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_words"), 2).alias("avg_words"),
            F.round(F.avg("lm_logprob"), 4).alias("avg_lm_logprob"),
        )
    )


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export: seeded md5 shuffle key ->
    shard + stable in-shard position. Exact DuckDB twin."""
    from ocr_spark.operators.sharding import shard_assignment

    return shard_assignment(_t(spark, sf_dir, "documents"))


def q_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest gate: docs >= 250 arrive as the new batch
    against committed docs < 250, plus planted exact copies (doc 0..4 at
    +2000000) and near copies (docs 10/20/30 at +3000000 with a tail
    token) so all three statuses are witnessed. Runs the PRODUCTION
    layout: the committed side's band rows come from a persisted
    bucketed band store (write_band_store), so the candidate band join
    carries no Exchange on the committed side — same rows, same pair
    set, same exact DuckDB twin as the derive-in-session path.

    The store is written once per (Spark application, ``sf_dir``) under
    this process's ``_scratch_root("band", sf_dir)`` and a deterministic
    catalog name; later calls in the same application reuse it, so a
    repeated call (a timed bench rep) has no write side effect, and a later
    process removes the directory once this one has exited."""
    import hashlib

    from ocr_spark.operators.incremental import (
        committed_state,
        incremental_status_against_state,
        write_band_store,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.where("doc_id < 250")
    new = (
        d.where("doc_id >= 250")
        .unionByName(
            d.where("doc_id < 5").select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where("doc_id % 10 = 0 AND doc_id < 40").select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat("text", F.lit(" tailmarker")).alias("text"),
            )
        )
    )
    state = committed_state(old)
    app = spark.sparkContext.applicationId
    key = hashlib.md5(f"{app}|{sf_dir}".encode()).hexdigest()[:12]
    table = f"dedup_increment_band_store_{key}"
    if not spark.catalog.tableExists(table):
        write_band_store(state, table, _scratch_root("band", sf_dir))
    return incremental_status_against_state(
        new, state, band_store=spark.table(table)
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pass (rule filter -> exact dedup -> near-dup
    clusters) emitting one disposition row per document — the end-to-end
    pipeline a corpus user actually runs. Exact DuckDB twin composes the
    member oracles over the same shrinking candidate sets."""
    from ocr_spark.operators.corpus import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not just pairs): large-star/small-star connected
    components over the MinHash-LSH pair graph, plus keep-one-per-cluster
    selection — the last stage of a real corpus dedup pass. Exact DuckDB
    twin: the same pair SQL feeding a recursive min-reachable-label CTE."""
    from ocr_spark.operators.cc import dedup_clusters
    from ocr_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return dedup_clusters(d, minhash_lsh_pairs(d, threshold=0.5))


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection over the near-dup clusters: the same
    MinHash-LSH -> connected-components assignment as dedup_clusters, but
    the keeper is each cluster's LONGEST member (ties -> lowest id) — the
    RefinedWeb/FineWeb convention of keeping the best cluster member
    rather than the arbitrary min-id one. Exact DuckDB twin: the cluster
    CTE plus the same row_number window."""
    from ocr_spark.operators.cc import cluster_representatives, dedup_clusters
    from ocr_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(d, minhash_lsh_pairs(d, threshold=0.5)).select(
        "doc_id", "component"
    )
    scores = d.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("score"),
    )
    return cluster_representatives(clusters, scores)


def _scratch_root(kind: str, sf_dir: str) -> str:
    """Empty scratch dir ``/tmp/ocr_spark_{kind}_q/<key>-<pid>`` for a
    query that writes its own tables. Keyed by (sf_dir, pid): repeated runs
    in one process reuse a directory, while concurrent processes (parallel
    pytest workers, two registry runs) can't clear each other's in-flight
    files. Siblings left by processes that have exited are removed; a live
    pid's directory is never touched, because the frames its queries
    returned read those files lazily."""
    import hashlib
    import os
    import shutil

    parent = f"/tmp/ocr_spark_{kind}_q"
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"{parent}/{key}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    for name in os.listdir(parent) if os.path.isdir(parent) else ():
        pid = name.rpartition("-")[2]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(f"{parent}/{name}", ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user
    return root


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path: the same extraction core as a file-source
    micro-batch stream with checkpointed exactly-once parquet sink
    (availableNow trigger). Input is the DETERMINISTIC doc_id < 200 page
    subset (not limit(), whose row choice is scan-order-dependent), so the
    streaming sink has an exact DuckDB twin — the flagship oracle restricted
    to the same subset — and the query itself asserts batch==stream before
    returning (batch-stream byte equivalence witnessed even under a
    rows-only driver check)."""
    from ocr_spark.session import EXTRACTED_SCHEMA, PAGES_SCHEMA
    from ocr_spark.streaming.extract_stream import start_extract_stream

    base = _scratch_root("stream", sf_dir)  # fresh checkpoint each run
    pages = pages_from_documents(spark, sf_dir, max_doc_id=200)
    pages.write.mode("overwrite").parquet(f"{base}/in")
    q = start_extract_stream(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    # a silent timeout would read a partial sink as if it were complete
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_extract: availableNow batch exceeded 300s")
    cols = ["url", "text", "extract_status", "content_kind", "n_blocks"]
    streamed = (
        spark.read.schema(EXTRACTED_SCHEMA).parquet(f"{base}/out").select(*cols)
    )
    batch = extract_pages(
        spark.read.schema(PAGES_SCHEMA).parquet(f"{base}/in"),
        repartition=False,
    ).select(*cols)
    # the north-rule invariant, asserted in-query: streaming and batch
    # execution of the shared core are row-identical on the same input
    if (streamed.exceptAll(batch).count() != 0
            or batch.exceptAll(streamed).count() != 0):
        raise AssertionError("stream_extract: streaming sink != batch extraction")
    return streamed


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span profile (ExactSubstr-style span dedup at 8-word-gram
    granularity): per-doc duplicated-word counts from merged dup-gram
    intervals — every document gets a row. Exact DuckDB twin (portable
    60-bit md5 gram hashes, identical gaps-and-islands windows)."""
    from ocr_spark.operators.spans import dup_span_stats

    return dup_span_stats(_t(spark, sf_dir, "documents"))


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr rewrite: duplicated spans excised everywhere except
    the owning (minimum) document — one copy of every duplicated region
    survives corpus-wide. Exact DuckDB twin down to the rewritten text
    bytes."""
    from ocr_spark.operators.spans import remove_dup_spans

    return remove_dup_spans(_t(spark, sf_dir, "documents"))


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH self-audit: recall/precision of the banded MinHash candidate
    generator (production bands + bucket caps) against EXACT shingle-
    jaccard ground truth from a shingle-hash inverted-index join. One row.

    The corpus's only natural near-dups sit at jaccard ~0.95 where LSH is
    trivially perfect, so the query first plants a deterministic
    mid-similarity ladder both engines construct identically: for
    doc_id < 40, a variant at +500000 with every p-th token mutated
    (p = 4 + (doc_id % 8) * 6 — jaccards spread across the 8-band/4-row
    capture knee). Measured at sf0.01: recall 0.935, precision 1.0 — the
    audit actually prices the band construction. Exact DuckDB twin.

    The exact ground truth is deliberately quadratic (the brute force the
    LSH replaces), so the audit runs on a deterministic sample — the
    production pattern at corpus scale. doc_id < 1000 covers all of
    sf0.01 and a fixed 1000-doc slice at larger factors."""
    from ocr_spark.operators.dedup import lsh_recall_audit

    d = (
        _t(spark, sf_dir, "documents")
        .where("doc_id < 1000")
        .select("doc_id", "text")
    )
    toks = canonical_words(F.coalesce(F.col("text"), F.lit("")))
    vid = F.col("doc_id") + 500000
    p = F.lit(4) + (F.col("doc_id") % 8) * 6
    mutated = F.transform(
        toks,
        lambda t, i: F.when(
            i % p == 0,
            F.concat(F.lit("mutx"), vid.cast("string"), F.lit("x"), i.cast("string")),
        ).otherwise(t),
    )
    # two selects: in a single select list Spark 4's lateral-column-alias
    # resolution would bind the ``doc_id`` inside ``mutated``/``vid`` to the
    # just-aliased OUTPUT column (doc_id + 500000), double-shifting the ids
    # baked into the mutated tokens
    variants = (
        d.where("doc_id < 40")
        .select("doc_id", F.array_join(mutated, " ").alias("text"))
        .select(vid.alias("doc_id"), "text")
    )
    return lsh_recall_audit(d.unionByName(variants))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: (term, df, cf, sorted posting string)
    for terms with min_df <= df <= 90% of the corpus — tf compression
    before posting assembly, relative df ceiling drops stopword monsters
    at any scale. Exact DuckDB twin."""
    from ocr_spark.operators.index import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"))


def q_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-lite MERGE INTO (copy-on-write upsert at file granularity):
    documents land partitioned by lang with doc_id stats, then one merge
    batch updates doc_id % 10 == 3 (text 'rev2: ...') and inserts new ids
    (+100000 for doc_id % 25 == 0). Returns the final table state — the
    anti-join + union semantics have an exact DuckDB twin; manifest-level
    pruning (untouched files carried verbatim) is pinned by
    tests/test_resume.py."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    root = _scratch_root("merge", sf_dir)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    table = IcebergLiteTable(root)
    table.overwrite(d, partition_by="lang", stats_cols=("doc_id",))
    upd_text = F.concat(F.lit("rev2: "), F.coalesce(F.col("text"), F.lit("")))
    updates = d.where("doc_id % 10 = 3").select(
        "doc_id",
        upd_text.alias("text"),
        "lang",
        F.lit("merge").alias("source"),
        F.length(upd_text).cast("long").alias("n_chars"),
    )
    new_text = F.concat(F.lit("new doc "), (F.col("doc_id") + 100000).cast("string"))
    inserts = d.where("doc_id % 25 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        new_text.alias("text"),
        "lang",
        F.lit("merge").alias("source"),
        F.length(new_text).cast("long").alias("n_chars"),
    )
    table.merge_into(spark, updates.unionByName(inserts))
    return table.read(spark).select(*cols)


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture selection: per-language greedy take of the
    highest-quality documents until each language's token budget fills
    (one lang-hash shuffle + a running-sum window; zh is excluded to pin
    the allowlist semantics)."""
    from ocr_spark.operators.mixing import token_budget_select

    return token_budget_select(_t(spark, sf_dir, "documents"))


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality gate: per-host kept-fraction of the per-doc
    quality filter, hosts below 0.85 with >=5 docs flagged blocked
    (UT1/RefinedWeb-style domain blocklist derivation)."""
    from ocr_spark.operators.mixing import domain_blocklist

    d = _t(spark, sf_dir, "documents")
    pages = _messy_urls(d).select("doc_id", "url").join(
        d.select("doc_id", "text"), "doc_id"
    )
    return domain_blocklist(pages)


def q_host_quality_eb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes smoothed domain quality: every host judged by its
    Beta-Binomial posterior mean (prior = corpus kept rate, strength 20),
    so small hosts shrink toward the prior instead of being exempted by
    a support floor. Exact DuckDB twin."""
    from ocr_spark.operators.mixing import domain_quality_eb

    d = _t(spark, sf_dir, "documents")
    pages = _messy_urls(d).select("doc_id", "url").join(
        d.select("doc_id", "text"), "doc_id"
    )
    return domain_quality_eb(pages)


def q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (title / description / og:title / canonical
    / robots meta / html lang) as zero-shuffle zero-Python JVM regexes over
    a metadata-rich page wrapper whose head fields are pure functions of
    (doc_id, lang) — the SQL twin replays them from the documents table.
    Exercises: whitespace collapse + entity decode (title), BOTH attribute
    orders (description alternates by parity), NULL on absent tag
    (og:title missing for doc_id % 3 == 0), and the robots directive
    booleans (absent tag => false, never NULL)."""
    from ocr_spark.operators.pagemeta import page_meta
    from ocr_spark.sources.pages import meta_pages_from_documents

    return page_meta(meta_pages_from_documents(spark, sf_dir))


def q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dump recrawl resolution: ~2.5 deterministic captures per page
    (path keyed by doc_id % 200; www/userinfo/port/utm decorations vary by
    capture so only CANONICAL grouping reunites them) -> keep the newest
    capture per canonical url. latest_ts is emitted as a formatted string
    so both engines hash the same bytes."""
    from ocr_spark.operators.dedup import latest_capture

    did = F.col("doc_id")
    caps = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"),
            F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit("crawler@")).otherwise(F.lit("")),
            F.lit("h"),
            ((did % 200) % 23).cast("string"),
            F.lit(".Example.ORG"),
            F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            (did % 200).cast("string"),
            F.when(did % 2 == 0, F.lit("?utm_source=x&b=2&a=1#frag"))
            .otherwise(F.lit("?b=2&a=1")),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + (did % 89) * 3600).alias(
            "warc_ts"
        ),
    )
    out = latest_capture(caps)
    return out.select(
        "url_canon",
        "keep_id",
        "n_captures",
        F.date_format("latest_ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
    )


def q_within_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal over deterministically
    multi-lined pages (documents.text is single-line, so lines are
    planted: slice the text into 40-char lines with line 1 repeated —
    non-vacuous by construction, replayed byte-for-byte in the twin)."""
    from ocr_spark.operators.dedup import collapse_repeated_lines

    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    pages = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(t, 1, 40),
            F.substring(t, 41, 40),
            F.substring(t, 1, 40),
            F.lit(""),
            F.substring(t, 81, 40),
            F.substring(t, 41, 40),
        ).alias("text"),
    )
    return collapse_repeated_lines(pages)


def q_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: assignment hashed at canonical-host
    granularity so one site never spans both splits. Map-side only."""
    from ocr_spark.functions import urls as U
    from ocr_spark.operators.sampling import leakage_safe_split

    d = _messy_urls(_t(spark, sf_dir, "documents"))
    pages = d.select("doc_id", U.url_host("url").alias("host"))
    return leakage_safe_split(pages)


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the documents table for a fixed 3-term
    query — the search side of the inverted-index family. Query-vocabulary
    filter before any shuffle; df/N/avgdl as broadcast stats."""
    from ocr_spark.operators.index import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the planted near-dup
    corpus: seeded-Lloyd k-means clustering, within-cluster pairwise
    cosine, keep-first verdicts. The 8 planted scaled copies
    (vec_id >= 1000000) must come back is_dup with dup_of = the original.
    dup_of is coalesced to -1 for keepers so the twin compares ints."""
    from ocr_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(_neardup_corpus(spark, sf_dir))
    return out.select(
        "vec_id",
        "cent_id",
        "is_dup",
        F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN maintenance: the quantizer is fitted on the
    COMMITTED corpus only (vec_id < 1500), the new ingest batch
    (vec_id >= 1500) is assigned to those frozen cells — committed
    vectors never re-read. The twin replays the committed-side fit and
    the frozen-cell argmax exactly."""
    from ocr_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    committed = emb.where(F.col("vec_id") < 1500)
    new_batch = emb.where(F.col("vec_id") >= 1500)
    cents = ivf_centroids(committed)
    return ivf_assign(new_batch, cents)


def q_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical span-level benchmark decontamination: the benchmark set is
    the first 12 normalized tokens of every 9th document, so those
    documents (and any document sharing one of the 8-grams) must come
    back with exactly that region excised and everything else intact.
    Exact DuckDB twin."""
    from ocr_spark.operators.spans import decontaminate_spans

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 9 == 0).select(
        F.concat_ws(" ", F.slice(canonical_words(F.col("text")), 1, 12)).alias("text")
    )
    return decontaminate_spans(d, bench)


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCLM-style cluster-balanced selection over the embeddings table:
    seeded-Lloyd cells, at most 8 picks per cell by md5-uniform key.
    Every vector comes back with its cell, key, rank, and picked flag;
    the whole draw is replayed in the DuckDB twin."""
    from ocr_spark.operators.similarity import cluster_balanced_sample

    return cluster_balanced_sample(_t(spark, sf_dir, "embeddings"))


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE tokenization with the fixed shipped encoder
    (core.bpe.BPE_TRAIN_COUNTS -> deterministic merges -> word->tokens map):
    per document the word count, token count, <unk> count, and the md5
    fingerprint of the full decoded token stream. The apply — tokenize,
    map lookup, '<unk>' fallback, fingerprint — is replayed exactly in
    the DuckDB twin with the same embedded map."""
    from ocr_spark.core.bpe import build_word_map
    from ocr_spark.operators.tokenizer import bpe_encode

    word_map = build_word_map()
    return bpe_encode(_t(spark, sf_dir, "documents"), word_map)


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer audit of the fixed shipped encoder: doc/
    word/token/unk/byte totals plus fertility (tokens per word),
    bytes_per_token, and unk_rate at 4 dp — the table a multilingual
    pipeline reads before committing to a tokenizer. One zero-shuffle
    encode projection + one map-side-combined groupBy(lang). The DuckDB
    twin replays the embedded word->tokens map and every ratio."""
    from ocr_spark.core.bpe import build_word_map
    from ocr_spark.operators.tokenizer import fertility_by_lang

    word_map = build_word_map()
    return fertility_by_lang(_t(spark, sf_dir, "documents"), word_map)


def q_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LM scoring — the CCNet deployment shape (LM fit on a
    trusted reference, crawl scored against it): the bigram model is fit
    on the EVEN docs only and applied to the ODD docs, with doc_id % 10
    == 1 targets carrying a planted never-seen LEADING token (prepended,
    so it occurs as a bigram's w1 — appended it would only ever be a w2
    and oov_words would be vacuously zero) so the OOV floor path (LEFT
    joins, counts coalesced to 0) is genuinely exercised — those docs
    must report oov_words > 0 and take the floor on the planted
    transition (a 1-token nudge on a ~55-bigram average, so it shifts
    the doc's own score, not the population ranking), never error or
    drop. Exact DuckDB twin."""
    from ocr_spark.operators.quality import bigram_lm_apply, fit_bigram_lm

    d = _t(spark, sf_dir, "documents")
    ref = d.where("doc_id % 2 = 0")
    tgt = d.where("doc_id % 2 = 1").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(
                F.lit("novelword"), F.col("doc_id").cast("string"),
                F.lit(" "), F.col("text"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return bigram_lm_apply(tgt, fit_bigram_lm(ref))


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export manifest: per shard the doc count, byte
    total, and the ORDER-SENSITIVE content fingerprint (md5 over
    in-shard-position-ordered doc fingerprints) — integrity + ordering
    proof for a published dataset; a shuffled shard changes the digest
    even with every document intact. Exact DuckDB twin
    (string_agg ORDER BY pos replays the array_sort fold)."""
    from ocr_spark.operators.sharding import shard_manifest

    return shard_manifest(_t(spark, sf_dir, "documents"))


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-fraction quality selection: keep exactly ceil(25%) of the
    corpus by the 4-dp quality score (doc_id tie-break makes the cut
    total — the score has heavy ties, so the tie-break path is the
    hard part being tested). Exact rank via the distributed_ntile
    range-exchange machinery, corpus size as a broadcast 1-row count;
    every row returned with (rank, kept). Exact DuckDB twin."""
    from ocr_spark.functions.text import quality_score
    from ocr_spark.operators.ranking import top_fraction_gate

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("score")
    )
    return top_fraction_gate(d)


def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline burst flags per (event_type, hour): the events
    table plus a planted flood (every event_id % 7 == 0 re-emitted into
    the single hour 2024-01-15 12:00, ~285 extra events per type against
    a ~3/hour baseline) so is_burst is witnessed both ways — the planted
    hour must flag for every type, the baseline's natural Poisson
    wiggles mostly must not. The current hour never contaminates its own
    baseline (ROWS .. 1 PRECEDING); decisions compare the 4-dp rounded
    z-score so both engines decide on identical digits. Exact DuckDB
    twin."""
    from ocr_spark.operators.analytics import burst_detection

    ev = _t(spark, sf_dir, "events")
    flood = ev.where("event_id % 7 = 0").select(
        "event_type",
        F.lit("2024-01-15 12:30:00").cast("timestamp").alias("ts"),
    )
    both = ev.select("event_type", "ts").unionByName(flood)
    return burst_detection(both)


def q_page_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape page-type classification (the crawl-budget pruning
    heuristic): 10 planted URL shapes cover every class — home, date
    article, tag listing, tag+pagination (PRECEDENCE: pagination wins),
    search query, calendar archive, feed, media asset, plain 'other',
    and a hyphen-slug article. The DuckDB twin is construction truth
    (expected label straight from doc_id arithmetic), so the regex
    cascade is tested against ground truth, not a second regex."""
    from ocr_spark.functions.urls import url_page_type

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m = did % 10
    tail = (
        F.when(m == 0, F.lit("/"))
        .when(m == 1, F.lit("/2021/07/14/my-first-post"))
        .when(m == 2, F.lit("/tag/spark/"))
        .when(m == 3, F.lit("/tag/spark/page/3/"))
        .when(m == 4, F.lit("/?q=term"))
        .when(m == 5, F.lit("/2021/07/"))
        .when(m == 6, F.lit("/blog/feed/"))
        .when(m == 7, F.lit("/images/photo.jpg"))
        .when(m == 8, F.lit("/about"))
        .otherwise(F.lit("/posts/how-to-tune-jobs"))
    )
    url = F.concat(
        F.lit("https://h"), (did % 23).cast("string"),
        F.lit(".example.org"), tail,
    )
    return d.select(
        "doc_id", url.alias("url"), url_page_type(url).alias("page_type")
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace seeded-Lloyd codebooks
    (8 subspaces x 16 codes, the ivf_centroids discipline trained in ONE
    frame keyed by subspace), 8-byte codes per vector, and query scoring
    as a broadcast lookup-table sum — the memory-scale path where the
    scan reads codes, not vectors. Top-10 by approximate squared L2.
    The DuckDB twin replays the whole construction: subvector split,
    argmin assignments, 6-dp refined codebooks, ADC table, ordered sum."""
    from ocr_spark.operators.similarity import pq_topk

    return pq_topk(_t(spark, sf_dir, "embeddings"))


def q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection of the embeddings
    table (64 -> 8 dims, seeded ±1 matrix, 1/sqrt(k) scaling) in LONG
    (vec_id, j, p) format — the scan-shrinking front end for the whole
    similarity family. The DuckDB twin inlines the same matrix and
    unrolls each coordinate as a left-associated sum (the
    embedding_neardup float discipline)."""
    from ocr_spark.operators.similarity import random_projection

    return random_projection(_t(spark, sf_dir, "embeddings"))


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational HyperLogLog self-audit: per-language estimated vs exact
    distinct document texts. The sketch is expression-only (52-bit md5
    hash -> 256 buckets -> leading-zero rank -> max per register) with an
    exact INTEGER harmonic denominator, so the DuckDB twin computes
    bit-identical registers and an identical estimate; the exact side is
    the deliberately-expensive validation path a production run samples.
    See operators/sketches.py for the 100 TB argument (mergeable constant-
    size state vs a full distinct shuffle per group)."""
    from ocr_spark.operators.sketches import hll_accuracy

    return hll_accuracy(_t(spark, sf_dir, "documents"))


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the lexical
    BM25 top-15 (the q_bm25 3-term query) and the dense cosine top-20
    (the q_cosine_topk query vector), joined on the shared doc/vec id
    space. RRF needs only the ranks, so no score calibration crosses
    the modality boundary; each doc sums at most two dyadic terms, so
    the fused score is order-independent and engine-exact. Top-10 with
    id tie-break; DuckDB twin replays both rankers then the same fold."""
    from ocr_spark.operators.index import bm25_topk, rrf_fuse
    from ocr_spark.operators.similarity import cosine_topk
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs).select("doc_id", "rank")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    dense = (
        cosine_topk(emb, [float(x) for x in qvec])
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("cosine"), F.asc("vec_id"))
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex, dense])


def q_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance feedback: the 8 expansion terms that
    characterize the bm25 query's top-15 feedback documents, scored by
    feedback-tf x corpus-idf with seed terms and stopwords excluded
    (k_docs=15 so the twin reuses the bm25 oracle body verbatim as its
    feedback CTE). The expanded query re-runs through bm25_topk."""
    from ocr_spark.operators.index import expansion_terms

    return expansion_terms(_t(spark, sf_dir, "documents"))


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf "more like this" for doc_id=1: top-10 documents by
    cosine over integer-scaled tf-idf vectors (weights 4-dp-rounded then
    x10000 -> BIGINT, so dots and norms are exact integer sums and the
    twin is engine-exact; single divide/sqrt/round per candidate). The
    candidate join is gated to the query doc's own vocabulary."""
    from ocr_spark.operators.tfidf import more_like_this

    return more_like_this(_t(spark, sf_dir, "documents"))


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result snippets for the bm25 query terms: per matching document
    the densest 20-token span over the aligned + half-offset window
    grids (sliding-span approximation — boundary-straddling hit runs
    score whole; ties -> first hit closest to span start, then earliest
    span), its start offset, hit count, and the snippet text cut by
    array slice — the text never explodes, only the vocab-filtered
    positional stream shuffles. Exact DuckDB twin (same tokenizer, same
    candidate-start fan-out, same slice)."""
    from ocr_spark.operators.index import snippets

    return snippets(_t(spark, sf_dir, "documents"))


PHRASE_QUERY = ("big", "table")  # part of the query's identity, shared w/ twin


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over positional postings: docs containing
    the token sequence PHRASE_QUERY with match counts. The engine runs
    the production intersection (vocab-pruned posexplode -> one keyed
    join per phrase offset, operators/index.py); the DuckDB twin is an
    INDEPENDENT construction — a per-document list comprehension over
    the same token array — so agreement checks the join chain against
    first principles, not a SQL transliteration of itself."""
    from ocr_spark.operators.index import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), list(PHRASE_QUERY))


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style quantile estimates of document length per language
    (q50/q90/q99). Integer-only binning — exact unit buckets to 15, then
    8 linear sub-buckets per power-of-two octave (<= 6.25% relative
    error) — so every bucket boundary is a pure integer comparison and
    the DuckDB twin is bit-identical; the quantile scan runs over the
    bounded bucket histogram, never the data (operators/sketches.py)."""
    from ocr_spark.operators.sketches import dd_sketch_quantiles

    return dd_sketch_quantiles(_t(spark, sf_dir, "documents"), "lang")


def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining: URL-template alignment of localized pages. Each
    document maps to a language-stripped template slug (doc_id % 257 —
    the per-host path with the lang segment masked, at corpus scale);
    one deterministic representative per (slug, lang), then a single
    equi-join pairs languages on the same template, gated by the
    Gale-Church length-ratio sanity check (0.5..2.0). Exact DuckDB twin."""
    from ocr_spark.operators.bitext import bitext_pairs

    d = _t(spark, sf_dir, "documents")
    return bitext_pairs(
        d.select((F.col("doc_id") % 257).alias("slug"), "lang", "doc_id", "n_chars")
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guaranteed heavy hitters: every token with frequency >
    n_total/(HH_M+1), exact counts. The engine runs the two-pass
    bounded-memory path (per-partition Misra-Gries summaries via
    mapInPandas — no long-tail shuffle — then an exact recount of the
    broadcast candidate set); the MG guarantee makes the output EQUAL the
    exact one-pass SQL answer, which is exactly what the DuckDB twin
    computes. The corpus is enriched so the sketch genuinely evicts: a
    unique per-doc token (vocabulary ~540 >> 32 counters, churning every
    partition table) plus planted ladder tokens straddling the threshold
    (alpha x4/doc qualifies, beta x2/doc sits at the boundary, gamma on
    even docs and the uniques fall below)."""
    from ocr_spark.operators.heavyhitters import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    assembled = d.select(
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit(" alpha alpha alpha alpha beta beta"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" gamma")).otherwise(
                F.lit("")
            ),
        ).alias("text")
    )
    return heavy_hitters(assembled)


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-Bloom ingest gate: commit 2/3 of the corpus, re-ingest the
    other third with half its pages rewritten to copies of committed
    neighbours (a recrawl), and report per new page the bloom verdict
    (maybe_seen — definite when False) and the exact gate verdict (seen).
    The filter, probe, and confirm are pure JVM bit arithmetic; the
    DuckDB twin replays every hash and mask bit-for-bit."""
    from ocr_spark.functions.text import fingerprint_md5
    from ocr_spark.operators.bloom import (
        bloom_build,
        bloom_gate_exact,
        bloom_probe,
    )

    d = _t(spark, sf_dir, "documents")
    committed = d.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", fingerprint_md5("text").alias("fp")
    )
    prev = d.select(F.col("doc_id").alias("p_id"), F.col("text").alias("p_text"))
    newb = (
        d.where(F.col("doc_id") % 3 == 0)
        .join(prev, F.col("p_id") == F.col("doc_id") + 1, "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 2 == 0) & F.col("p_text").isNotNull(),
                F.col("p_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    newfp = newb.select("doc_id", fingerprint_md5("text").alias("fp"))
    bloom = bloom_build(committed)
    probed = bloom_probe(newfp, bloom).select("doc_id", "maybe_seen")
    gated = bloom_gate_exact(newfp, committed, bloom)
    return probed.join(gated, "doc_id")


def q_pub_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication-date extraction with precedence (meta article:published_time
    > <time datetime> > /YYYY/MM/DD/ URL path) over pages whose date
    carriers are pure functions of doc_id — the oracle computes the GROUND
    TRUTH from doc_id arithmetic, so the regex layer must actually recover
    the planted dates. Traps exercised: precedence overlap (doc_id % 12 == 1
    carries meta AND time -> meta wins; % 12 == 2 carries time AND url ->
    time wins), calendar-validity fall-through (% 24 == 0 plants an
    impossible month-13 meta date that must LOSE to the time tag), and the
    all-absent NULL row (% 4 == 3)."""
    from ocr_spark.operators.pagemeta import pub_date

    d = F.col("doc_id")

    def pad2(c):
        return F.lpad(c.cast("string"), 2, "0")

    meta_date = F.concat(
        (d % 5 + 2020).cast("string"), F.lit("-"),
        pad2(d % 12 + 1), F.lit("-"), pad2(d % 28 + 1),
    )
    time_date = F.concat(
        (d % 7 + 2015).cast("string"), F.lit("-"),
        pad2((d + 3) % 12 + 1), F.lit("-"), pad2((d + 5) % 28 + 1),
    )
    url_y = (d % 20 + 2000).cast("string")
    url_m = pad2((d + 5) % 12 + 1)
    url_d = pad2((d + 7) % 28 + 1)
    has_meta = (d % 4 == 0) | (d % 12 == 1)
    meta_invalid = d % 24 == 0
    has_time = (d % 4 == 1) | (d % 12 == 2) | (d % 24 == 0)
    has_url = d % 4 == 2
    meta_content = F.when(meta_invalid, F.lit("2020-13-05T08:30:00Z")).otherwise(
        F.concat(meta_date, F.lit("T08:30:00Z"))
    )
    head = F.concat(
        F.lit("<html><head><title>d</title>"),
        F.when(
            has_meta,
            F.concat(
                F.lit('<meta property="article:published_time" content="'),
                meta_content,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            has_time,
            F.concat(F.lit('<time datetime="'), time_date, F.lit('">then</time>')),
        ).otherwise(F.lit("")),
        F.lit("</head><body></body></html>"),
    )
    url = F.concat(
        F.lit("https://h"),
        (d % 23).cast("string"),
        F.lit(".example.org"),
        F.when(
            has_url,
            F.concat(F.lit("/"), url_y, F.lit("/"), url_m, F.lit("/"), url_d),
        ).otherwise(F.lit("")),
        F.lit("/p/"),
        d.cast("string"),
    )
    pages = _t(spark, sf_dir, "documents").select(url.alias("url"), head.alias("html"))
    return pub_date(pages)


def q_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (UTF-8-as-cp1252, ftfy-style closed form): garble is
    planted as literal garbled suffixes (doc_id % 3 == 0 gets a 4-sequence
    tail, % 3 == 2 a 2-sequence tail, % 3 == 1 stays clean — the
    idempotence case), repaired by the generated 105-entry replace chain
    (functions/encoding.py), scored by length shrinkage, and witnessed by
    the canonical md5 of the FULL repaired text. The oracle replays the
    identical chain generated from the same MOJIBAKE_MAP."""
    from ocr_spark.functions.encoding import fix_mojibake
    from ocr_spark.functions.text import fingerprint_md5

    d = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    raw = (
        F.when(d % 3 == 0, F.concat(t, F.lit(" cafÃ© â€” rÃ©sumÃ© â€¦ Ã¼ber")))
        .when(d % 3 == 2, F.concat(t, F.lit(" naÃ¯ve Â© 2024")))
        .otherwise(t)
    )
    g = _t(spark, sf_dir, "documents").select("doc_id", raw.alias("raw"))
    f = g.select("doc_id", "raw", fix_mojibake().alias("fixed"))
    return f.select(
        "doc_id",
        (F.length("raw") - F.length("fixed")).cast("long").alias("mojibake_score"),
        (F.length("raw") > F.length("fixed")).alias("was_garbled"),
        fingerprint_md5("fixed").alias("fixed_fp"),
    )


def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (explode to one row per sentence with index and
    word count). documents.text carries no punctuation, so terminators are
    planted first: every 5-word run gains the doc's terminator ('.', '!' or
    '?' by doc_id % 3) via the same RE2-safe regexp_replace in both engines;
    the splitter (functions/text.py SENTENCE_PATTERN) must then recover the
    runs. Zero-shuffle: plant, split, posexplode are all one projection."""
    from ocr_spark.functions.text import split_sentences

    d = F.col("doc_id")
    term = (
        F.when(d % 3 == 0, F.lit("."))
        .when(d % 3 == 1, F.lit("!"))
        .otherwise(F.lit("?"))
    )
    planted = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(r"((?:\w+ ){4}\w+) "),
        F.concat(F.lit("$1"), term, F.lit(" ")),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", split_sentences(planted).alias("arr")
    )
    return docs.select(
        "doc_id", F.posexplode("arr").alias("sent_idx", "sentence")
    ).select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
        F.size(F.split("sentence", " ")).cast("long").alias("n_words"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff by content fingerprint: old = docs with
    doc_id % 7 != 1, new = docs with doc_id % 11 != 3 where % 5 == 0 rows
    carry an edit — so all four statuses (added / removed / changed /
    unchanged) are non-vacuously planted, and rows in NEITHER snapshot
    (% 7 == 1 AND % 11 == 3) are correctly absent. The operator
    (operators/incremental.py:snapshot_diff) joins fingerprints, never
    text — the recrawl-planning shape that reads ~16 B/doc at 100 TB."""
    from ocr_spark.operators.incremental import snapshot_diff

    d0 = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    old = d0.where(did % 7 != 1).select("doc_id", t.alias("text"))
    new = d0.where(did % 11 != 3).select(
        "doc_id",
        F.when(did % 5 == 0, F.concat(t, F.lit(" v2 edit"))).otherwise(t).alias("text"),
    )
    return snapshot_diff(old, new)


def q_sitemap_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven recrawl planning: per-host sitemap XML is assembled
    deterministically from documents (23 hosts; every %17==0 block is
    malformed — no <loc> — and must parse to sitemap_ok=false, not a plan
    row; each host also carries one <sitemapindex> member that must stay
    out of the plan), captures exist for %3!=0 urls at a date decoupled
    from lastmod — so the plan is a non-vacuous mix of 'new' (never
    captured) and 'stale' (lastmod after the newest capture) with
    up-to-date urls absent. The ENGINE parses real XML
    (sources/sitemap.py); the DuckDB twin computes the expected plan
    straight from the doc_id construction arithmetic, so the regex layer
    is tested against ground truth, not against a second regex."""
    from ocr_spark.sources.sitemap import parse_sitemap_entries, recrawl_plan

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 23).cast("string"), F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), did.cast("string"))
    lastmod = F.date_format(
        F.date_add(F.to_date(F.lit("2024-01-01")), ((did * 13) % 365).cast("int")),
        "yyyy-MM-dd",
    )
    changefreq = F.element_at(
        F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly"), F.lit("yearly")),
        (did % 4 + 1).cast("int"),
    )
    priority = ((did % 10).cast("double") / 10.0).cast("string")
    block = F.when(
        did % 17 == 0,
        # protocol violation: no <loc> — the P7 path, sitemap_ok=false
        F.concat(F.lit("<url><lastmod>"), lastmod, F.lit("</lastmod></url>")),
    ).otherwise(
        F.concat(
            F.lit("<url><loc> "), url, F.lit(" </loc><lastmod>"), lastmod,
            F.lit("</lastmod><changefreq>"), changefreq,
            F.lit("</changefreq><priority>"), priority,
            F.lit("</priority></url>"),
        )
    )
    sitemaps = (
        d.select(host.alias("host"), F.struct(did.alias("doc_id"), block.alias("b")).alias("s"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["b"]
                    ),
                    "",
                ),
                F.lit("</urlset><sitemapindex><sitemap><loc>https://"),
                F.col("host"),
                F.lit("/sitemap2.xml</loc></sitemap></sitemapindex>"),
            ).alias("sitemap_xml")
        )
    )
    captures = d.where(did % 3 != 0).select(
        url.alias("url"),
        F.date_add(
            F.to_date(F.lit("2024-01-01")), ((did * 7) % 365).cast("int")
        ).alias("capture_date"),
    )
    entries = parse_sitemap_entries(sitemaps)
    return recrawl_plan(entries, captures)


def q_spam_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level spam/SEO-farm detection (operators/spam.py) with planted
    offenders: documents are spread over 20 hosts plus 'farm.example.com'
    (every %50==0 page); host h0 serves ONE template on all its pages
    (intra-host duplication -> spam_dup), every %40==2 page of h2 shares a
    'seasonal template' (borderline, below the 0.5 cutoff at this sf), the
    ring edges h(k) -> h(k+3) give every normal host a balanced link shape,
    and the farm fans out to 17 distinct hosts with zero in-links
    (link_ratio -> spam_farm). Exact DuckDB twin replays the same
    construction arithmetic."""
    from ocr_spark.operators.spam import spam_host_signals

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def h(expr):
        return F.concat(F.lit("h"), expr.cast("string"), F.lit(".example.com"))

    docs = d.select(
        F.when(did % 50 == 0, F.lit("farm.example.com"))
        .otherwise(h(did % 20))
        .alias("host"),
        F.when(did % 50 == 0, F.coalesce(F.col("text"), F.lit("")))
        .when(did % 20 == 0, F.lit("template farm page"))
        .when(did % 40 == 2, F.lit("seasonal template"))
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("text"),
    )
    ring = d.select(
        h(did % 20).alias("src_host"), h((did + 3) % 20).alias("dst_host")
    )
    farm = d.where(did % 3 == 0).select(
        F.lit("farm.example.com").alias("src_host"),
        h(did % 17).alias("dst_host"),
    )
    return spam_host_signals(docs, ring.unionByName(farm))


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured table extraction (functions/markup.py): pages planted
    with a 3-row header table (th detection + inner-tag stripping +
    whitespace collapse across a literal newline), a second table for
    doc_id % 3 == 0 (table_idx ordering), and an UNCLOSED <table> for
    doc_id % 11 == 0 that must contribute zero rows (lazy block regex
    finds no close — malformed markup is silent, identical in both
    engines). Three nested posexplodes, zero shuffle, zero Python."""
    from ocr_spark.functions.markup import extract_tables

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><h2> Doc "), did.cast("string"), F.lit(" </h2>"),
        F.lit('<table id="t1"><tr><th> Key </th><th>Val</th></tr>'),
        F.lit("<tr><td> <b>lang</b> </td><td>"), F.col("lang"),
        F.lit("</td></tr><tr><td>mod7</td><td> "),
        (did % 7).cast("string"), F.lit(" </td></tr></table>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<table class="x"><tr><td>a '), did.cast("string"),
                F.lit("</td><td>b\n c</td></tr></table>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("<table><tr><td>orphan"))
        .otherwise(F.lit("")),
        F.lit("<p>tail</p></body></html>"),
    )
    return extract_tables(d.select("doc_id", html.alias("html")))


def _outline_html() -> Column:
    """The shared assembled-page construction for the outline family
    (q_headings_outline + q_html_sections): every doc gets an <h1>;
    doc_id % 2 == 0 adds an <h2> with an inner <em> (tag strip);
    doc_id % 4 == 1 adds an out-of-order <h3> then <h2> BACK TO BACK (an
    empty section between them); doc_id % 9 == 0 adds an EMPTY <h6>."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("<html><body><h1> Doc "), did.cast("string"),
        F.lit(" </h1><p>intro</p>"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<h2 class="s">Sec <em>'), F.col("lang"),
                F.lit("</em></h2><p>body</p>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.concat(
                F.lit("<h3>Deep "), (did % 5).cast("string"),
                F.lit("</h3><h2>After</h2>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 9 == 0, F.lit("<h6></h6>")).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def q_headings_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document outline extraction (functions/markup.py) over the shared
    `_outline_html` pages: document-order pos (not level order), tag
    strip inside headings, and the empty <h6> must survive as heading=''
    / n_chars=0 (the outline keeps structure even when the text is
    empty). One posexplode projection, zero shuffle."""
    from ocr_spark.functions.markup import extract_headings

    d = _t(spark, sf_dir, "documents")
    return extract_headings(d.select("doc_id", _outline_html().alias("html")))


def q_html_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-aware chunking units: heading-delimited sections over
    the SAME `_outline_html` pages as q_headings_outline — section 0 is
    the tag-only preamble (level 0, NULL heading, empty text), each
    later section carries its governing heading + the cleaned body text
    between headings. Plants: back-to-back <h3>/<h2> yields an EMPTY mid
    section (kept — structure is data), the empty <h6> owns the closing
    tail, inner <em> exercises the tag strip. Exact DuckDB twin."""
    from ocr_spark.functions.markup import extract_sections

    d = _t(spark, sf_dir, "documents")
    return extract_sections(d.select("doc_id", _outline_html().alias("html")))


def q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed parsing (sources/feed.py): 10 per-host feeds are
    assembled deterministically from documents — even hosts publish RSS
    <item> blocks (RFC-822 pubDate round-trip through the day-name strip,
    guid falling back to link for doc_id % 5 == 0), odd hosts publish
    Atom <entry> blocks (ISO-8601 <updated>, href-attribute links); every
    doc_id % 13 == 0 item omits its link and must come back
    feed_ok=false with NULL fields, never dropped (P7). item_ts is
    emitted as a formatted UTC string so both engines hash the same
    bytes. The DuckDB twin replays the construction arithmetic — the
    regex+timestamp layer is tested against ground truth."""
    from ocr_spark.sources.feed import parse_feed_items

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hid = did % 10
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.net"))
    link = F.concat(F.lit("https://"), host, F.lit("/a/"), did.cast("string"))
    ts = F.timestamp_seconds(F.lit(1706745600) + (did % 97) * 3600)
    rss_block = F.concat(
        F.lit("<item><title> T"), did.cast("string"), F.lit(" </title>"),
        F.when(did % 13 == 0, F.lit("")).otherwise(
            F.concat(F.lit("<link>"), link, F.lit("</link>"))
        ),
        F.lit("<pubDate>"),
        F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss Z"),
        F.lit("</pubDate>"),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit('<guid isPermaLink="false">g-'), did.cast("string"),
                F.lit("</guid>"),
            )
        ),
        F.lit("</item>"),
    )
    atom_block = F.concat(
        F.lit("<entry><title>A"), did.cast("string"), F.lit("</title>"),
        F.when(did % 13 == 0, F.lit("")).otherwise(
            F.concat(F.lit('<link rel="alternate" href="'), link, F.lit('"/>'))
        ),
        F.lit("<updated>"),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("</updated><id>tag:h"), hid.cast("string"),
        F.lit(",2024:"), did.cast("string"), F.lit("</id></entry>"),
    )
    block = F.when(hid % 2 == 0, rss_block).otherwise(atom_block)
    feeds = (
        d.select(
            host.alias("host"),
            F.struct(did.alias("doc_id"), block.alias("b")).alias("s"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><rss><channel>'),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("s")), lambda s: s["b"]),
                    "",
                ),
                F.lit("</channel></rss>"),
            ).alias("feed_xml")
        )
    )
    items = parse_feed_items(feeds)
    return items.select(
        "host",
        "dialect",
        "link",
        "title",
        F.date_format("item_ts", "yyyy-MM-dd HH:mm:ss").alias("item_ts_s"),
        "guid",
        "feed_ok",
    )


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier (operators/frontier.py): 23
    hosts x ~22 candidate urls each, priority (doc_id*7)%10, per-host
    crawl delays declared only for host_id % 4 != 0 (the rest take the
    2.0 s default via the never-drop left join), max_per_host=15 so the
    budget cap genuinely truncates every host. Slot order is priority
    DESC with url as the deterministic tie-break; scheduled_at_s =
    slot * delay. One bounded per-host window + one broadcast-size
    join."""
    from ocr_spark.operators.frontier import fetch_schedule

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hid = did % 23
    host = F.concat(F.lit("h"), hid.cast("string"))
    cands = d.select(
        host.alias("host"),
        F.concat(
            F.lit("https://"), host, F.lit(".example.org/p/"), did.cast("string")
        ).alias("url"),
        ((did * 7) % 10).cast("long").alias("priority"),
    )
    delays = (
        d.select(hid.alias("hid"))
        .distinct()
        .where(F.col("hid") % 4 != 0)
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
            (F.lit(1.0) + (F.col("hid") % 5).cast("double")).alias("crawl_delay_s"),
        )
    )
    return fetch_schedule(cands, delays)


def q_crawl_delays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots politeness directives per host (operators/robots.py:
    robots_crawl_delays + robots_sitemaps): 23 hosts whose robots.txt
    plants, as pure functions of the host number, (a) a badbot group with
    Crawl-delay: 60 that must NOT leak into '*' traffic, (b) a '*'-group
    delay of (hid%7+1) seconds only for hid % 3 == 0, (c) an invalid
    'Crawl-delay: soon' for hid % 5 == 0 (dropped, not zeroed), (d) an
    UNGROUPED Sitemap line for even hids plus an in-group one for
    hid % 4 == 0 (both count — Sitemap is a global directive) and a
    relative one for hid % 6 == 0 (dropped). Output is host-grain:
    (host, crawl_delay_s NULL when undeclared, n_sitemaps coalesced 0).
    The DuckDB twin is construction truth — arithmetic on hid, no second
    regex/fold — so the group fold itself is what's under test."""
    from ocr_spark.operators.robots import robots_crawl_delays, robots_sitemaps

    hid = F.col("hid")
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.org"))
    hosts = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 23).alias("hid"))
        .distinct()
    )
    robots = hosts.select(
        host.alias("host"),
        F.concat(
            F.when(
                hid % 2 == 0,
                F.concat(F.lit("Sitemap: https://"), host, F.lit("/news.xml\n")),
            ).otherwise(F.lit("")),
            F.lit("User-agent: badbot\nCrawl-delay: 60\nDisallow: /\n\n"),
            F.lit("User-agent: *\nDisallow: /p/1"),
            F.when(
                hid % 3 == 0,
                F.concat(F.lit("\nCrawl-delay: "), (hid % 7 + 1).cast("string")),
            ).otherwise(F.lit("")),
            F.when(hid % 5 == 0, F.lit("\nCrawl-delay: soon")).otherwise(F.lit("")),
            F.when(
                hid % 4 == 0,
                F.concat(F.lit("\nSitemap: https://"), host, F.lit("/map.xml")),
            ).otherwise(F.lit("")),
            F.when(hid % 6 == 0, F.lit("\nSitemap: /relative.xml")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    delays = robots_crawl_delays(robots)
    smaps = (
        robots_sitemaps(robots)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_sitemaps"))
    )
    return (
        robots.select("host")
        .join(delays, "host", "left")
        .join(smaps, "host", "left")
        .select(
            "host",
            "crawl_delay_s",
            F.coalesce("n_sitemaps", F.lit(0)).alias("n_sitemaps"),
        )
    )


def q_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD extraction (operators/pagemeta.py: jsonld_meta)
    over pages whose ld+json block is a pure function of doc_id % 5:
    0 = no block; 1 = NewsArticle object (headline + datePublished +
    author object); 2 = top-level ARRAY whose first node is a Product
    with a bare-string author (name fallback for headline); 3 = Recipe
    with name only + author array-of-objects; 4 = malformed JSON
    (has_jsonld true, every field NULL). The DuckDB twin is construction
    truth from the same arithmetic — the regex + JsonPath layer is what's
    under test."""
    from ocr_spark.operators.pagemeta import jsonld_meta

    did = F.col("doc_id")
    v = did % 5
    s = did.cast("string")
    block = (
        F.when(v == 1, F.concat(
            F.lit('{"@context":"https://schema.org","@type":"NewsArticle",'
                  '"headline":"Story '), s,
            F.lit('","datePublished":"2024-03-'),
            F.lpad((did % 28 + 1).cast("string"), 2, "0"),
            F.lit('T10:00:00Z","author":{"@type":"Person","name":"Reporter '),
            (did % 7).cast("string"), F.lit('"}}'),
        ))
        .when(v == 2, F.concat(
            F.lit('[{"@type":"Product","name":"Widget '), s,
            F.lit('","author":"House '), (did % 3).cast("string"),
            F.lit('"},{"@type":"Ignored","name":"Second"}]'),
        ))
        .when(v == 3, F.concat(
            F.lit('{"@type":"Recipe","name":"Dish '), s,
            F.lit('","author":[{"name":"Chef '), (did % 5).cast("string"),
            F.lit('"},{"name":"Sous"}]}'),
        ))
        .when(v == 4, F.lit('{"@type":"Broken",'))
    )
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (did % 23).cast("string"),
                 F.lit(".example.org/p/"), s).alias("url"),
        F.concat(
            F.lit("<html><head><title>t</title>"),
            F.when(
                block.isNotNull(),
                F.concat(
                    F.lit('<script type="application/ld+json">'),
                    block,
                    F.lit("</script>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("</head><body>page body</body></html>"),
        ).alias("html"),
    )
    return jsonld_meta(pages)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _with_engine_conf(q_flagship_extract)(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-facing registry: the :data:`REGISTRY` entries without a
    witness, the ones the driver's correctness gate checks."""
    return {k: _with_engine_conf(q) for k, (q, w) in REGISTRY.items() if w is None}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The :data:`REGISTRY` entries outside the driver's window, each
    witnessed by the in-window query its table row names. All are checked
    against their DuckDB twins by tests/test_oracle_parity.py."""
    return {k: _with_engine_conf(q) for k, (q, w) in REGISTRY.items() if w is not None}


def q_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN top-k vs the vec_id=0 query embedding,
    with exact-cosine rescore disclosure per hit (operators/similarity.py:
    sq_topk — two map-side-only corpus passes: per-dim bounds agg, then
    asymmetric scoring + TakeOrderedAndProject). The 4x-smaller-codes scan
    path a 100 TB ANN actually runs."""
    from ocr_spark.operators.similarity import sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    qvec = [float(x) for x in qvec]
    return sq_topk(emb, qvec)


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multinomial language-mixture weights (mT5/XLM-R
    alpha-sampling, alpha=0.3): raw vs temperature share and the per-lang
    boost factor (operators/mixing.py:temperature_mixture — one hash agg
    over the corpus, then languages-sized arithmetic)."""
    from ocr_spark.operators.mixing import temperature_mixture

    return temperature_mixture(_t(spark, sf_dir, "documents"))


def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown-structured extraction over the deterministic page template
    (operators/extract_op.py:extract_page_markdown — identical keep/drop
    decisions to flagship_extract, but the kept h2 renders as '## ' and
    blocks join with blank lines). The oracle replays the template's
    markdown arithmetic, so the structural rendering is hash-checked."""
    from ocr_spark.operators.extract_op import extract_page_markdown

    pages = pages_from_documents(spark, sf_dir)
    return extract_page_markdown(pages)


def q_ip_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join done scale-safe: per-user synthetic IPs routed to
    network ranges via the prefix-bucketed equi-join (operators/iprange.py
    — explode ranges into /8 prefixes, BroadcastHashJoin on prefix +
    residual BETWEEN, never a BroadcastNestedLoopJoin), then a per-region
    rollup with coverage gaps surfaced as 'unrouted'."""
    from ocr_spark.operators.iprange import region_traffic

    return region_traffic(_t(spark, sf_dir, "events"), spark)


# The query registry, one row per query: name -> (builder, witness).
# witness is None for the queries the driver's correctness gate checks
# (queries(); the gate reads at most 50 entries). Every other query names
# the in-window query that runs the same operator or plan shape
# (extra_queries()). tests/test_oracle_parity.py checks that every witness
# is in the window and every query against its DuckDB twin in
# _oracle_sql_all(). Rotating a query into the window is one edit per
# entry: its witness becomes None, and the query it displaces gets one.
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "flagship_extract": (q_flagship_extract, None),
    "extract_spans": (q_extract_spans, None),
    "exact_dedup": (q_exact_dedup, None),
    "token_stats": (q_token_stats, None),
    "lang_id": (q_lang_id, None),
    "fingerprint": (q_fingerprint, "exact_dedup"),  # groups on the same md5 fingerprint
    "token_jaccard": (q_token_jaccard, "minhash_pairs"),  # exact-Jaccard pair check
    "minhash_pairs": (q_minhash_pairs, None),
    "simhash": (q_simhash, "minhash_pairs"),  # per-doc near-dup signature
    "simhash_pairs": (q_simhash_pairs, "minhash_pairs"),  # banded near-dup pairs
    "cosine_topk": (q_cosine_topk, "hybrid_search"),  # cosine_topk is its dense leg
    "embedding_neardup": (q_embedding_neardup, "semantic_dedup"),  # pairwise cosine
    "validate_docs": (q_validate_docs, None),
    "doc_assessment": (q_doc_assessment, None),
    "corr_flags": (q_corr_flags, "validate_docs"),  # one aggregate + stack unpivot
    "agg_pricing": (q_agg_pricing, "ip_range_join"),  # count/sum/min/max hash aggregate
    "top_customers": (q_top_customers, "ip_range_join"),  # broadcast join + agg
    "lang_distribution": (q_lang_distribution, "hll_distinct"),  # per-lang distinct
    "events_hourly": (q_events_hourly, "ip_range_join"),  # hash agg over events
    "resume_antijoin": (q_resume_antijoin, None),
    "top_events_per_user": (q_top_events_per_user, "host_cap"),  # per-group rank cut
    "sessionize": (q_sessionize, "token_budget_mix"),  # partitioned running-sum window
    "pivot_events": (q_pivot_events, "validate_docs"),  # conditional-sum wide aggregate
    "stratified_sample": (q_stratified_sample, "dsir_sample"),  # seeded md5 keep draw
    "contamination": (q_contamination, None),
    "tfidf_terms": (q_tfidf_terms, "hybrid_search"),  # tf-idf inside its BM25 leg
    "knn": (q_knn, "sq_topk"),  # top-k by cosine to a query vector
    "quality_classifier": (q_quality_classifier, None),
    "perplexity_buckets": (q_perplexity_buckets, None),
    "soft_sample": (q_soft_sample, "quality_classifier"),  # same classifier_score
    "blocklist": (q_blocklist, "robots_filter"),  # broadcast host-rule join
    "cdx_fetch_plan": (q_cdx_fetch_plan, "sitemap_recrawl"),  # index rows -> fetch plan
    "media_meta": (q_media_meta, "pdf_extract"),  # Arrow mapInPandas, binary
    "av_meta": (q_av_meta, "pdf_extract"),  # Arrow mapInPandas, binary
    "pdf_extract": (q_pdf_extract, None),
    "union_branches": (q_union_branches, "flagship_extract"),  # unions it + pdf_extract
    "rollup_events": (q_rollup_events, "ip_range_join"),  # hash aggregate over events
    "grouping_sets": (q_grouping_sets, "ip_range_join"),  # hash aggregate over events
    "group_quantiles": (q_group_quantiles, "sketch_quantiles"),  # per-lang quantiles
    "chunk_documents": (q_chunk_documents, None),
    "pack_sequences": (q_pack_sequences, "chunk_documents"),  # packs its chunks
    "moving_avg": (q_moving_avg, "token_budget_mix"),  # ROWS-frame window
    "set_ops": (q_set_ops, "resume_antijoin"),  # EXCEPT is its anti-join
    "ivf_topk": (q_ivf_topk, "pq_topk"),  # seeded-Lloyd quantizer + broadcast argmin
    "error_top_fields": (q_error_top_fields, "validate_docs"),  # same validator
    "epoch_parse": (q_epoch_parse, "feed_items"),  # string -> timestamp parsing
    "semi_join": (q_semi_join, "dedup_increment"),  # fp left-semi join
    "outer_join": (q_outer_join, "snapshot_diff"),  # full outer join, both null sides
    "asof_join": (q_asof_join, "sitemap_recrawl"),  # latest capture per key
    "frame_sample": (q_frame_sample, "pdf_extract"),  # Arrow mapInPandas, binary
    "image_resize": (q_image_resize, "pdf_extract"),  # Arrow mapInPandas, binary
    "winnow_pairs": (q_winnow_pairs, "dup_spans"),  # hashed-gram fingerprint joins
    "dedup_clusters": (q_dedup_clusters, None),
    "clean_corpus": (q_clean_corpus, None),
    "corpus_report": (q_corpus_report, "clean_corpus"),  # runs clean_corpus
    "shard_assignment": (q_shard_assignment, "host_cap"),  # md5 key, rank per group
    "dedup_increment": (q_dedup_increment, None),
    "line_dedup": (q_line_dedup, None),
    "host_boilerplate": (q_host_boilerplate, "line_dedup"),  # line dedup, per host
    "media_hash_gate": (q_media_hash_gate, "robots_filter"),  # broadcast rule join
    "paragraph_dedup": (q_paragraph_dedup, "line_dedup"),  # paragraph grain
    "common_ngrams": (q_common_ngrams, "dup_spans"),  # same gram counting
    "dsir_sample": (q_dsir_sample, None),
    "blockwords": (q_blockwords, "quality_filter"),  # C4 wordlist rule
    "host_cap": (q_host_cap, None),
    "robots_filter": (q_robots_filter, None),
    "warc_roundtrip": (q_warc_roundtrip, "wet_export"),  # same record framing
    "wet_export": (q_wet_export, None),
    "sq_topk": (q_sq_topk, None),
    "mix_temperature": (q_mix_temperature, "token_budget_mix"),  # same token-mass agg
    "ip_range_join": (q_ip_range_join, None),
    "markdown_render": (q_markdown_render, "flagship_extract"),  # same parse stage
    "url_parts": (q_url_parts, "robots_filter"),  # same url parse expressions
    "host_stats": (q_host_stats, "host_quality_eb"),  # per-host aggregate, same urls
    "quality_filter": (q_quality_filter, None),
    "lm_score": (q_lm_score, "perplexity_buckets"),  # its bigram LM scoring stage
    "repetition_stats": (q_repetition_stats, "quality_filter"),  # Gopher repetition
    "pii_redact": (q_pii_redact, "signals"),  # regex projection + md5 fingerprint
    "outlinks": (q_outlinks, "pagerank_hosts"),  # consumes outlinks
    "host_degree": (q_host_degree, "spam_hosts"),  # full-outer host merge of link sides
    "pagerank_hosts": (q_pagerank_hosts, None),
    "anchor_terms": (q_anchor_terms, "pagerank_hosts"),  # same link extraction
    "canonical_groups": (q_canonical_groups, "exact_dedup"),  # keeper per group
    "dup_spans": (q_dup_spans, None),
    "dup_span_removal": (q_dup_span_removal, None),
    "lsh_recall": (q_lsh_recall, "minhash_pairs"),  # same LSH bands
    "inverted_index": (q_inverted_index, "phrase_search"),  # same token postings
    "merge_table": (q_merge_table, "resume_antijoin"),  # anti-join + union upsert
    "stream_extract": (q_stream_extract, None),
    "token_budget_mix": (q_token_budget_mix, None),
    "host_quality": (q_host_quality, "host_quality_eb"),  # same per-host kept fraction
    "host_quality_eb": (q_host_quality_eb, None),
    "bloom_gate": (q_bloom_gate, "dedup_increment"),  # exact path is its fp semi-join
    "semantic_dedup": (q_semantic_dedup, None),
    "cluster_sample": (q_cluster_sample, "semantic_dedup"),  # seeded-Lloyd cells
    "ivf_assign": (q_ivf_assign, "pq_topk"),  # seeded-Lloyd quantizer + argmax
    "decontam_spans": (q_decontam_spans, "contamination"),  # benchmark n-gram join
    "script_stats": (q_script_stats, "signals"),  # fused into its projection
    "vocab_growth": (q_vocab_growth, "token_stats"),  # same tokenizer
    "code_detect": (q_code_detect, "signals"),  # fused into its projection
    "signals": (q_signals, None),
    "bpe_tokens": (q_bpe_tokens, "token_stats"),  # tokenize projection
    "token_fertility": (q_token_fertility, "token_stats"),  # tokenize projection
    "heavy_hitters": (q_heavy_hitters, None),
    "lm_crossentropy": (q_lm_crossentropy, "perplexity_buckets"),  # bigram LM
    "rp_project": (q_rp_project, "sq_topk"),  # array arithmetic over embeddings
    "page_types": (q_page_types, "robots_filter"),  # same url parse expressions
    "burst_detection": (q_burst_detection, "perplexity_buckets"),  # ROWS-frame window
    "quality_gate": (q_quality_gate, "perplexity_buckets"),  # same distributed_ntile
    "trustrank_hosts": (q_trustrank_hosts, None),
    "shard_manifest": (q_shard_manifest, "exact_dedup"),  # grouped md5 fingerprints
    "pq_topk": (q_pq_topk, None),
    "hll_distinct": (q_hll_distinct, None),
    "bitext_pairs": (q_bitext_pairs, None),
    "sketch_quantiles": (q_sketch_quantiles, None),
    "phrase_search": (q_phrase_search, None),
    "hybrid_search": (q_hybrid_search, None),
    "search_snippets": (q_search_snippets, "phrase_search"),  # token positions per doc
    "expansion_terms": (q_expansion_terms, "hybrid_search"),  # its BM25 leg
    "more_like_this": (q_more_like_this, "hybrid_search"),  # tf-idf weighting
    "bm25": (q_bm25, "hybrid_search"),  # its lexical leg is bm25_topk
    "train_eval_split": (q_train_eval_split, "host_cap"),  # canonical host of urls
    "within_doc_dedup": (q_within_doc_dedup, "line_dedup"),  # repeated-line collapse
    "latest_capture": (q_latest_capture, "sitemap_recrawl"),  # latest capture per url
    "page_meta": (q_page_meta, None),
    "pub_date": (q_pub_date, "page_meta"),  # head-regex extraction
    "fix_encoding": (q_fix_encoding, "token_stats"),  # zero-shuffle text projection
    "sentences": (q_sentences, "chunk_documents"),  # split + explode, zero shuffle
    "snapshot_diff": (q_snapshot_diff, None),
    "sitemap_recrawl": (q_sitemap_recrawl, None),
    "cluster_reps": (q_cluster_reps, None),
    "spam_hosts": (q_spam_hosts, None),
    "html_tables": (q_html_tables, None),
    "headings_outline": (q_headings_outline, "html_tables"),  # regex + posexplode
    "html_sections": (q_html_sections, "html_tables"),  # regex + posexplode
    "feed_items": (q_feed_items, None),
    "fetch_schedule": (q_fetch_schedule, None),
    "crawl_delays": (q_crawl_delays, None),
    "jsonld": (q_jsonld, "page_meta"),  # head-regex extraction
}


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect twins)
# --------------------------------------------------------------------------

_CANON = "trim(regexp_replace(lower(text), '[ \t\n]+', ' ', 'g'))"
_CANON_RAW = "trim(regexp_replace(text, '[ \t\n]+', ' ', 'g'))"
_TOKENS = "regexp_extract_all(lower(text), '[A-Za-z0-9_'']+')"
_PUNCT = r"'[!-/:-@\[-`{-~]'"
_STOPS = ("('the','a','an','and','or','of','to','in','is','it',"
          "'that','for','on','with','as','at','by','this')")
_STOP_RATIO = (
    f"case when len({_TOKENS}) = 0 then 0.0 else "
    f"len(list_filter({_TOKENS}, t -> t in {_STOPS})) * 1.0 / len({_TOKENS}) end"
)
_PUNCT_RATIO = (
    f"case when length(text) = 0 then 0.0 else "
    f"(length(text) - length(regexp_replace(text, {_PUNCT}, '', 'g'))) * 1.0 / length(text) end"
)
_CJK_RATIO = (
    "case when length(text) = 0 then 0.0 else "
    "(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))) * 1.0 / length(text) end"
)
_LANG_PRED = (
    f"case when {_CJK_RATIO} > 0.30 then 'zh' "
    f"when {_STOP_RATIO} > 0.05 then 'en' else 'other' end"
)
_TOKEN_SQL = TOKEN_PATTERN.replace("'", "''")  # SQL-literal-escaped
_WS_TOKENS = ("CASE WHEN length(trim(text)) = 0 THEN 0 "
              "ELSE len(regexp_split_to_array(trim(text), '[ \t\n]+')) END")
_QUALITY = (
    "round("
    "(case when length(text) between 100 and 20000 then 1.0 "
    " when length(text) >= 20 then 0.5 else 0.0 end) * 0.4 + "
    f"(case when {_PUNCT_RATIO} <= 0.10 then 1.0 else 0.0 end) * 0.3 + "
    f"(case when {_STOP_RATIO} >= 0.02 then 1.0 else 0.0 end) * 0.3, 4)"
)


def _embedding_neardup_oracle() -> str:
    """DuckDB twin of q_embedding_neardup. The seeded hyperplanes are
    inlined as literals; the sign-decision dot products are UNROLLED as
    left-associated sums so both engines evaluate the identical IEEE-754
    operation sequence (a near-zero dot must not flip its sign between a
    fold and a differently-ordered library sum). The verification cosine
    uses list_dot_product + round(4), same as the other embedding oracles."""
    from ocr_spark.operators.similarity import N_PLANES, hyperplanes

    planes = hyperplanes()

    def dot(p: list[float]) -> str:
        return " + ".join(f"e[{i + 1}]*{p[i]!r}" for i in range(64))

    bucket = " + ".join(
        f"(CASE WHEN {dot(planes[j])} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(N_PLANES)]
    )
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))")
    return f"""
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02)
            FROM embeddings WHERE vec_id < 8
        ), keyed AS (
            SELECT vec_id AS id, e, CAST({bucket} AS BIGINT) AS bucket FROM corpus
        ), ok AS (
            SELECT bucket FROM keyed GROUP BY bucket HAVING count(*) <= 256
        ), base AS (
            SELECT k.id, k.bucket FROM keyed k JOIN ok USING (bucket)
        ), probes AS (
            SELECT pr.id, pr.pb AS bucket FROM (
                SELECT id, unnest([{probe_list}]) AS pb FROM keyed
            ) pr JOIN ok o ON pr.pb = o.bucket
        ), cand AS (
            SELECT DISTINCT p.id AS id_a, b.id AS id_b
            FROM probes p JOIN base b ON p.bucket = b.bucket AND p.id < b.id
        )
        SELECT id_a, id_b, round({cos}, 4) AS cosine
        FROM cand JOIN keyed a ON id_a = a.id JOIN keyed b ON id_b = b.id
        WHERE round({cos}, 4) >= 0.9
    """


_MH_JAC = ("round(len(list_intersect(a.sh, b.sh)) * 1.0 / "
           "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)")


def _minhash_oracle(src: str = "documents") -> str:
    """DuckDB twin of minhash_lsh_pairs: same shingles, same md5-based
    universal-hash signatures (constants inlined from operators.dedup),
    same band slicing, bucket caps, and exact-jaccard verification.
    ``src``: any relation exposing (doc_id, text) — the composed
    clean-corpus oracle feeds it the post-exact-dedup CTE."""
    jac = _MH_JAC
    return f"""
        WITH {_minhash_cte_body(src)}
        SELECT id_a, id_b, {jac} AS jaccard
        FROM cand JOIN dsh a ON id_a = a.id JOIN dsh b ON id_b = b.id
        WHERE {jac} >= 0.5
    """


def _minhash_cte_body(src: str) -> str:
    """Shared CTE chain (no WITH keyword, no final SELECT) computing the
    minhash LSH pipeline's intermediates from a (doc_id, text) relation:
    shin(gles), bhx (base hashes), sig(natures), banded, small (capped
    buckets), cand(idate pairs), dsh (distinct shingle sets). Used by the
    minhash_pairs oracle and the lsh_recall audit twin."""
    from ocr_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_AB,
        MINHASH_PERMS,
        _MH_P,
    )

    rpb = MINHASH_PERMS // LSH_BANDS
    sig_exprs = ",\n                   ".join(
        f"list_min([({a} * (h % {_MH_P}) + {b}) % {_MH_P} for h in bhs])"
        for a, b in MINHASH_AB
    )
    return f"""toks AS (
            SELECT doc_id AS id, string_split({_CANON}, ' ') AS toks FROM {src}
        ), shin AS (
            SELECT id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(list_slice(toks, i, i + 2), ' ')
                      for i in generate_series(1, len(toks) - 2)] END AS shingles
            FROM toks
        ), bhx AS (
            SELECT id, shingles,
                   [('0x' || substr(md5(s), 1, 8))::BIGINT for s in shingles] AS bhs
            FROM shin
        ), sig AS (
            SELECT id, shingles,
                   [{sig_exprs}] AS sig
            FROM bhx
        ), banded AS (
            SELECT id, b.band,
                   list_slice(sig, b.band * {rpb} + 1, b.band * {rpb} + {rpb}) AS bucket
            FROM sig, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band) b
        ), small AS (
            SELECT band, bucket FROM banded GROUP BY band, bucket
            HAVING count(*) > 1 AND count(*) <= 256
        ), keep AS (
            SELECT bd.id, bd.band, bd.bucket FROM banded bd
            JOIN small s ON bd.band = s.band AND bd.bucket = s.bucket
        ), cand AS (
            SELECT DISTINCT l.id AS id_a, r.id AS id_b
            FROM keep l JOIN keep r
              ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
        ), dsh AS (
            SELECT id, list_distinct(shingles) AS sh FROM shin
        )"""


def _lsh_recall_oracle(src: str) -> str:
    """DuckDB twin of dedup.lsh_recall_audit: the shared minhash CTE chain
    supplies the production candidate pairs (cand); exact ground truth
    comes from the shingle-hash inverted-index join over the same base
    hashes (bhx), jaccard-verified at 0.5."""
    jac = _MH_JAC
    return f"""
        WITH {_minhash_cte_body(src)},
        shh AS (
            SELECT id, unnest(list_distinct(bhs)) AS h FROM bhx
        ), tc AS (
            SELECT DISTINCT l.id AS id_a, r.id AS id_b
            FROM shh l JOIN shh r ON l.h = r.h AND l.id < r.id
        ), truth AS (
            SELECT id_a, id_b
            FROM tc JOIN dsh a ON id_a = a.id JOIN dsh b ON id_b = b.id
            WHERE {jac} >= 0.5
        ), m AS (
            SELECT t.id_a IS NOT NULL AS in_t, c.id_a IS NOT NULL AS in_c
            FROM truth t FULL OUTER JOIN cand c
              ON t.id_a = c.id_a AND t.id_b = c.id_b
        ), agg AS (
            SELECT CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
                   CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
                   CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
            FROM m
        )
        SELECT n_truth, n_cand, n_hit,
               round(CASE WHEN n_truth = 0 THEN 1.0
                          ELSE n_hit * 1.0 / n_truth END, 4) AS recall,
               round(CASE WHEN n_cand = 0 THEN 1.0
                          ELSE n_hit * 1.0 / n_cand END, 4) AS precision
        FROM agg
    """


def _dup_spans_oracle() -> str:
    """DuckDB twin of spans.dup_span_stats: same normalized tokenization
    (NULL coalesced), same 60-bit md5 gram hashes over ``SPAN_W``-word
    grams, same touch-or-overlap (gap <= w) interval merge via
    gaps-and-islands windows."""
    from ocr_spark.operators.spans import SPAN_W as w

    canon_nn = ("trim(regexp_replace(lower(coalesce(text, '')), "
                "'[ \t\n]+', ' ', 'g'))")
    return f"""
        WITH docs AS (
            SELECT doc_id, {canon_nn} AS t FROM documents
        ), words AS (
            SELECT doc_id, string_split(t, ' ') AS w FROM docs WHERE t <> ''
        ), grams AS (
            SELECT doc_id, pos,
                   ('0x' || substr(md5(array_to_string(
                        w[pos + 1 : pos + {w}], ' ')), 1, 15))::BIGINT AS gh
            FROM words, unnest(range(0, len(w) - {w - 1})) AS u(pos)
            WHERE len(w) >= {w}
        ), dup AS (
            SELECT gh FROM grams GROUP BY gh
            HAVING count(DISTINCT doc_id) >= 2
        ), hits AS (
            SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)
        ), flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos - lag(pos) OVER w > {w}
                        THEN 1 ELSE 0 END AS new_seg
            FROM hits
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), segs AS (
            SELECT doc_id, pos,
                   sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
            FROM flagged
        ), spans AS (
            SELECT doc_id, seg, min(pos) AS s, max(pos) + {w - 1} AS e
            FROM segs GROUP BY doc_id, seg
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_dup_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_words
            FROM spans GROUP BY doc_id
        ), nw AS (
            SELECT doc_id,
                   CASE WHEN t = '' THEN 0
                        ELSE len(string_split(t, ' ')) END AS n_words
            FROM docs
        )
        SELECT n.doc_id, CAST(n.n_words AS BIGINT) AS n_words,
               coalesce(p.n_dup_spans, 0) AS n_dup_spans,
               coalesce(p.dup_words, 0) AS dup_words,
               round(CASE WHEN n.n_words = 0 THEN 0.0
                          ELSE coalesce(p.dup_words, 0) * 1.0 / n.n_words
                     END, 4) AS dup_frac
        FROM nw n LEFT JOIN per_doc p USING (doc_id)
    """


def _dup_span_removal_oracle() -> str:
    """DuckDB twin of spans.remove_dup_spans: per-gram min-id owner, non-
    owned hit islands, and an indexed list-comprehension rewrite that
    matches the engine's filter/exists expression word for word."""
    from ocr_spark.operators.spans import SPAN_W as w

    canon_nn = ("trim(regexp_replace(lower(coalesce(text, '')), "
                "'[ \t\n]+', ' ', 'g'))")
    return f"""
        WITH docs AS (
            SELECT doc_id, {canon_nn} AS t FROM documents
        ), words AS (
            SELECT doc_id, string_split(t, ' ') AS w FROM docs WHERE t <> ''
        ), grams AS (
            SELECT doc_id, pos,
                   ('0x' || substr(md5(array_to_string(
                        w[pos + 1 : pos + {w}], ' ')), 1, 15))::BIGINT AS gh
            FROM words, unnest(range(0, len(w) - {w - 1})) AS u(pos)
            WHERE len(w) >= {w}
        ), own AS (
            SELECT gh, min(doc_id) AS owner FROM grams GROUP BY gh
            HAVING count(DISTINCT doc_id) >= 2
        ), hits AS (
            SELECT DISTINCT g.doc_id, g.pos
            FROM grams g JOIN own o USING (gh)
            WHERE g.doc_id <> o.owner
        ), flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER win IS NULL
                          OR pos - lag(pos) OVER win > {w}
                        THEN 1 ELSE 0 END AS new_seg
            FROM hits
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), segs AS (
            SELECT doc_id, pos,
                   sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
            FROM flagged
        ), spans AS (
            SELECT doc_id, seg, min(pos) AS s, max(pos) + {w - 1} AS e
            FROM segs GROUP BY doc_id, seg
        ), span_list AS (
            SELECT doc_id, list([s, e] ORDER BY s) AS spans
            FROM spans GROUP BY doc_id
        ), base AS (
            SELECT d.doc_id, d.t,
                   CASE WHEN d.t = '' THEN [''] ELSE string_split(d.t, ' ')
                   END AS w
            FROM docs d
        ), j AS (
            SELECT b.doc_id, b.t, b.w,
                   coalesce(sl.spans, CAST([] AS BIGINT[][])) AS spans
            FROM base b LEFT JOIN span_list sl USING (doc_id)
        ), kept AS (
            SELECT doc_id, t, w,
                   [w[i] for i in generate_series(1, len(w))
                    if len(list_filter(spans,
                           sp -> i - 1 >= sp[1] AND i - 1 <= sp[2])) = 0
                   ] AS k
            FROM j
        )
        SELECT doc_id,
               -- DuckDB's array_to_string returns NULL for the empty list
               -- (fully-excised doc); the engine's array_join returns ''
               coalesce(array_to_string(k, ' '), '') AS clean_text,
               CAST(CASE WHEN t = '' THEN 0 ELSE len(w) END AS BIGINT)
                   AS n_words,
               CAST(len(w) - len(k) AS BIGINT) AS n_removed
        FROM kept
    """


def _decontam_spans_oracle() -> str:
    """DuckDB twin of q_decontam_spans: the dup_span_removal span chain
    with the hit set redefined as corpus grams ∩ benchmark grams (the
    first-12-token prefixes of every 9th document), no ownership
    exemption."""
    from ocr_spark.operators.spans import SPAN_W as w

    canon_nn = ("trim(regexp_replace(lower(coalesce(text, '')), "
                "'[ \t\n]+', ' ', 'g'))")
    return f"""
        WITH docs AS (
            SELECT doc_id, {canon_nn} AS t FROM documents
        ), words AS (
            SELECT doc_id, string_split(t, ' ') AS w FROM docs WHERE t <> ''
        ), bwords AS (
            SELECT w[1:12] AS bw FROM words WHERE doc_id % 9 = 0
        ), bgrams AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(array_to_string(
                        bw[pos + 1 : pos + {w}], ' ')), 1, 15))::BIGINT AS gh
            FROM bwords, unnest(range(0, len(bw) - {w - 1})) AS ub(pos)
            WHERE len(bw) >= {w}
        ), grams AS (
            SELECT doc_id, pos,
                   ('0x' || substr(md5(array_to_string(
                        w[pos + 1 : pos + {w}], ' ')), 1, 15))::BIGINT AS gh
            FROM words, unnest(range(0, len(w) - {w - 1})) AS u(pos)
            WHERE len(w) >= {w}
        ), hits AS (
            SELECT DISTINCT g.doc_id, g.pos
            FROM grams g JOIN bgrams b USING (gh)
        ), flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER win IS NULL
                          OR pos - lag(pos) OVER win > {w}
                        THEN 1 ELSE 0 END AS new_seg
            FROM hits
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), segs AS (
            SELECT doc_id, pos,
                   sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
            FROM flagged
        ), spans AS (
            SELECT doc_id, seg, min(pos) AS s, max(pos) + {w - 1} AS e
            FROM segs GROUP BY doc_id, seg
        ), span_list AS (
            SELECT doc_id, list([s, e] ORDER BY s) AS spans
            FROM spans GROUP BY doc_id
        ), base AS (
            SELECT d.doc_id, d.t,
                   CASE WHEN d.t = '' THEN [''] ELSE string_split(d.t, ' ')
                   END AS w
            FROM docs d
        ), j AS (
            SELECT b.doc_id, b.t, b.w,
                   coalesce(sl.spans, CAST([] AS BIGINT[][])) AS spans
            FROM base b LEFT JOIN span_list sl USING (doc_id)
        ), kept AS (
            SELECT doc_id, t, w,
                   [w[i] for i in generate_series(1, len(w))
                    if len(list_filter(spans,
                           sp -> i - 1 >= sp[1] AND i - 1 <= sp[2])) = 0
                   ] AS k
            FROM j
        )
        SELECT doc_id,
               coalesce(array_to_string(k, ' '), '') AS clean_text,
               CAST(CASE WHEN t = '' THEN 0 ELSE len(w) END AS BIGINT)
                   AS n_words,
               CAST(len(w) - len(k) AS BIGINT) AS n_removed
        FROM kept
    """


def _simhash_sig_ctes(source: str) -> str:
    """Shared CTE chain computing 64-bit SimHash per id from a
    ``(id, text)`` relation — the exact twin of ``dedup.simhash64``:
    canonical tokens, first-64-bits-of-md5 token hashes (big-endian,
    byte-for-byte the engine's ``md5(tok).digest()[:8]``), per-bit
    +1/-1 voting, bit set iff votes > 0, wrapped to signed int64."""
    canon = "trim(regexp_replace(lower(text), '[ \t\n]+', ' ', 'g'))"
    return f"""
        base AS ({source}),
        sh_toks AS (
            SELECT id, string_split({canon}, ' ') AS toks FROM base
        ), sh_hx AS (
            SELECT id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
            FROM (SELECT id, unnest(toks) AS tok FROM sh_toks)
            WHERE tok <> ''
        ), sh_votes AS (
            SELECT id, b.bit,
                   sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM sh_hx, (SELECT unnest(generate_series(0, 63)) AS bit) b
            GROUP BY id, b.bit
        ), sh_raw AS (
            SELECT id,
                   sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit)
                            ELSE 0::HUGEINT END) AS s
            FROM sh_votes GROUP BY id
        ), sig AS (
            SELECT b.id,
                   CAST(coalesce(CASE WHEN s >= 9223372036854775808
                                      THEN s - 18446744073709551616
                                      ELSE s END, 0) AS BIGINT) AS simhash
            FROM base b LEFT JOIN sh_raw USING (id)
        )"""


def _simhash_oracle() -> str:
    """DuckDB twin of q_simhash: per-document SimHash signatures."""
    ctes = _simhash_sig_ctes("SELECT doc_id AS id, text FROM documents")
    return f"""
        WITH {ctes}
        SELECT id AS doc_id, simhash FROM sig
    """


def _simhash_pairs_oracle() -> str:
    """DuckDB twin of q_simhash_pairs: documents + the planted near-dups
    (doc_id % 50 == 0 re-appears as doc_id+1000000 with ' zzmarker'
    appended), then the identical hamming-band LSH: 4 16-bit bands
    (shift+mask parity with Spark's arithmetic shiftright holds because
    the mask discards sign-extension bits), buckets capped at (1, 256],
    candidates verified with exact popcount hamming <= 3."""
    from ocr_spark.operators.dedup import SIMHASH_BANDS

    width = 64 // SIMHASH_BANDS
    mask = (1 << width) - 1
    source = """SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS id, text || ' zzmarker' AS text
                FROM documents WHERE doc_id % 50 = 0"""
    ctes = _simhash_sig_ctes(source)
    return f"""
        WITH {ctes}, banded AS (
            SELECT id, b.band,
                   (simhash >> (b.band * {width})) & {mask} AS bucket
            FROM sig, (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band) b
        ), small AS (
            SELECT band, bucket FROM banded GROUP BY band, bucket
            HAVING count(*) > 1 AND count(*) <= 256
        ), keep AS (
            SELECT bd.id, bd.band, bd.bucket FROM banded bd
            JOIN small USING (band, bucket)
        ), cand AS (
            SELECT DISTINCT l.id AS id_a, r.id AS id_b
            FROM keep l JOIN keep r
              ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM cand JOIN sig a ON id_a = a.id JOIN sig b ON id_b = b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def _winnow_pairs_oracle() -> str:
    """DuckDB twin of q_winnow_pairs: the polynomial rolling hash over
    char k-grams of the canonical text (powers of B mod 2^61-1 inlined,
    ``unicode()`` == Python ``ord``), winnowing as a rightmost-argmin
    window (row_number ORDER BY h ASC, pos DESC over each w-window),
    the <= w-gram min fallback, the df <= 16 fingerprint cap, and the
    shared-fingerprint pair count — byte-identical to
    ``dedup.winnow_fingerprints`` + ``winnow_pairs``."""
    from ocr_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_WINDOW,
        _POLY_B,
        _POLY_MASK,
    )

    k, w = WINNOW_K, WINNOW_WINDOW
    powers = [pow(_POLY_B, k - 1 - j, _POLY_MASK) for j in range(k)]
    canon = "trim(regexp_replace(lower(text), '[ \t\n]+', ' ', 'g'))"
    term = " + ".join(
        f"unicode(substr(s, pos + {j}, 1))::HUGEINT * {p}::HUGEINT"
        for j, p in enumerate(powers)
    )
    return f"""
        WITH c AS (
            SELECT doc_id AS id, {canon} AS s FROM documents
        ), g AS (
            SELECT id, pos, (({term}) % {_POLY_MASK})::BIGINT AS h
            FROM (SELECT id, s, unnest(generate_series(1, len(s) - {k} + 1))
                  FROM c WHERE len(s) >= {k}) t(id, s, pos)
        ), wins AS (
            SELECT id, pos AS wend FROM g WHERE pos >= {w}
        ), wcand AS (
            SELECT wn.id, wn.wend, g2.pos, g2.h,
                   row_number() OVER (PARTITION BY wn.id, wn.wend
                                      ORDER BY g2.h ASC, g2.pos DESC) AS rn
            FROM wins wn JOIN g g2
              ON g2.id = wn.id AND g2.pos BETWEEN wn.wend - {w - 1} AND wn.wend
        ), picked AS (
            SELECT DISTINCT id, h FROM wcand WHERE rn = 1
            UNION
            SELECT id, min(h) FROM g GROUP BY id HAVING count(*) < {w}
        ), rare AS (
            SELECT h FROM picked GROUP BY h HAVING count(*) <= 16
        ), kept AS (
            SELECT p.id, p.h FROM picked p JOIN rare USING (h)
        )
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.h = b.h AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= 2
    """


def _dedup_clusters_oracle() -> str:
    """DuckDB twin of q_dedup_clusters: the minhash pair SQL (verbatim, so
    the edge set is bit-identical) feeding a recursive CTE that computes
    each node's minimum reachable id — exactly the min-label components
    large-star/small-star converges to — then the singleton/keeper
    projection over all documents."""
    return f"""
        WITH RECURSIVE pairs AS ({_minhash_oracle()}),
        cc_e AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, lbl) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM cc_e) t(u)
            UNION
            SELECT cc_e.u, r.lbl FROM cc_e JOIN reach r ON cc_e.v = r.u
        ),
        comp AS (
            SELECT u AS id, min(lbl) AS component FROM reach GROUP BY u
        )
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               (d.doc_id = coalesce(c.component, d.doc_id)) AS is_keeper
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """


def _cluster_reps_oracle() -> str:
    """DuckDB twin of q_cluster_reps: the dedup_clusters component CTE
    (same verbatim minhash pair SQL) joined to text lengths, keeper =
    row_number()==1 over (component ORDER BY score DESC, doc_id)."""
    return f"""
        WITH RECURSIVE pairs AS ({_minhash_oracle()}),
        cc_e AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, lbl) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM cc_e) t(u)
            UNION
            SELECT cc_e.u, r.lbl FROM cc_e JOIN reach r ON cc_e.v = r.u
        ),
        comp AS (
            SELECT u AS id, min(lbl) AS component FROM reach GROUP BY u
        ),
        assigned AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component,
                   CAST(length(coalesce(d.text, '')) AS BIGINT) AS score
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        )
        SELECT doc_id, component, score,
               (row_number() OVER (
                    PARTITION BY component ORDER BY score DESC, doc_id
                ) = 1) AS is_rep
        FROM assigned
    """


def _spam_hosts_oracle() -> str:
    """DuckDB twin of q_spam_hosts: replays the planted-host synthesis
    (farm %50, template host h0, seasonal %40==2, ring + farm fan-out
    edges) and the spam_host_signals aggregation — fingerprint counting,
    distinct out/in hosts, full-outer merge, threshold flags. md5 of the
    canonical form is engine-portable, so the fingerprint agg is exact."""
    return f"""
        WITH docs AS (
            SELECT CASE WHEN doc_id % 50 = 0 THEN 'farm.example.com'
                        ELSE 'h' || CAST(doc_id % 20 AS VARCHAR)
                             || '.example.com' END AS host,
                   md5(trim(regexp_replace(lower(
                       CASE WHEN doc_id % 50 = 0 THEN coalesce(text, '')
                            WHEN doc_id % 20 = 0 THEN 'template farm page'
                            WHEN doc_id % 40 = 2 THEN 'seasonal template'
                            ELSE coalesce(text, '') END),
                       '[ \t\n]+', ' ', 'g'))) AS fp
            FROM documents
        ),
        edges AS (
            SELECT 'h' || CAST(doc_id % 20 AS VARCHAR)
                       || '.example.com' AS src_host,
                   'h' || CAST((doc_id + 3) % 20 AS VARCHAR)
                       || '.example.com' AS dst_host
            FROM documents
            UNION ALL
            SELECT 'farm.example.com',
                   'h' || CAST(doc_id % 17 AS VARCHAR) || '.example.com'
            FROM documents WHERE doc_id % 3 = 0
        ),
        content AS (
            SELECT host, count(*) AS n_pages,
                   count(*) - count(DISTINCT fp) AS dup_pages
            FROM docs GROUP BY host
        ),
        outs AS (
            SELECT src_host AS host, count(DISTINCT dst_host) AS out_hosts
            FROM edges GROUP BY 1
        ),
        ins AS (
            SELECT dst_host AS host, count(DISTINCT src_host) AS in_hosts
            FROM edges GROUP BY 1
        ),
        merged AS (
            SELECT host,
                   CAST(coalesce(n_pages, 0) AS BIGINT) AS n_pages,
                   CAST(coalesce(dup_pages, 0) AS BIGINT) AS dup_pages,
                   CAST(coalesce(out_hosts, 0) AS BIGINT) AS out_hosts,
                   CAST(coalesce(in_hosts, 0) AS BIGINT) AS in_hosts
            FROM content
            FULL OUTER JOIN outs USING (host)
            FULL OUTER JOIN ins USING (host)
        ),
        ratios AS (
            SELECT *,
                   CASE WHEN n_pages > 0
                        THEN dup_pages / CAST(n_pages AS DOUBLE)
                        ELSE 0.0 END AS dup_ratio,
                   out_hosts / CAST(greatest(in_hosts, 1) AS DOUBLE)
                       AS link_ratio,
                   n_pages >= 3 AS eligible
            FROM merged
        )
        SELECT host, n_pages, dup_pages, dup_ratio, out_hosts, in_hosts,
               link_ratio,
               (eligible AND dup_ratio > 0.5) AS spam_dup,
               (eligible AND link_ratio > 5.0) AS spam_farm,
               ((eligible AND dup_ratio > 0.5)
                OR (eligible AND link_ratio > 5.0)) AS is_spam
        FROM ratios
    """


def _url_parts_oracle() -> str:
    """DuckDB twin of q_url_parts: same messy-URL synth, same RE2-safe
    parse/canonicalize templates (imported from functions.urls so the
    two dialect versions can't drift apart silently)."""
    from ocr_spark.functions import urls as U

    c = "url"
    return f"""
        WITH u AS (SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents)
        SELECT doc_id,
               {U.SQL_URL_SCHEME.format(c=c)} AS scheme,
               {U.SQL_URL_HOST.format(c=c)} AS host,
               {U.SQL_REGISTERED_DOMAIN.format(c=c)} AS domain,
               {U.SQL_URL_PATH.format(c=c)} AS path,
               {U.SQL_URL_QUERY_CANON.format(c=c)} AS query_canon,
               {U.SQL_URL_CANON.format(c=c)} AS url_canon
        FROM u
    """


def _host_stats_oracle() -> str:
    from ocr_spark.functions import urls as U

    return f"""
        WITH u AS (
            SELECT doc_id, n_chars, {_SQL_MESSY_URL} AS url FROM documents
        )
        SELECT {U.SQL_URL_HOST.format(c="url")} AS host,
               count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars
        FROM u GROUP BY 1
    """


_SQL_LINKY_W = ("coalesce(nullif(regexp_extract(lower(coalesce(text, '')), "
                "'[a-z]{3,}'), ''), 'page')")

# same bytes as _linky_pages, rebuilt in SQL
_SQL_LINKY = f"""
    SELECT doc_id,
           'https://h' || (doc_id % 23) || '.example.org/p/' || (doc_id % 7)
               || '/page.html' AS url,
           '<html><head><title>Doc ' || doc_id
               || '</title></head><body><p>intro</p><a href="'
               || CASE doc_id % 6
                    WHEN 0 THEN 'http://h' || ((doc_id * 3) % 23)
                                || '.example.org/t/' || doc_id
                    WHEN 1 THEN '//h' || ((doc_id + 1) % 23)
                                || '.example.org/pr'
                    WHEN 2 THEN '/' || w || '/' || doc_id
                    WHEN 3 THEN w || '.html'
                    WHEN 4 THEN '#top'
                    ELSE 'mailto:ops@example.org'
                  END
               || '">' || w || ' one</a> <a href="https://h' || (doc_id % 11)
               || '.example.net/a/' || (doc_id % 5)
               || '">two</a></body></html>' AS html_text
    FROM (SELECT doc_id, {_SQL_LINKY_W} AS w FROM documents)
"""


def _sql_link_edges() -> str:
    """Shared edge-derivation CTE chain (DuckDB): linky pages -> href
    regexp harvest -> per-position explode -> RFC 3986 resolution CASE ->
    fragment strip + non-edge filter + dst-host/internal columns. Twins
    operators/links.outlinks via the templates in functions/links.py."""
    from ocr_spark.functions import links as L
    from ocr_spark.functions import urls as U

    resolve = L.SQL_RESOLVE_HREF.format(h="href", u="url")
    return f"""
        lk_pages AS ({_SQL_LINKY}),
        lk_hx AS (
            SELECT doc_id, url, {L.SQL_HREFS.format(c="html_text")} AS hrefs
            FROM lk_pages
        ),
        lk_pe AS (
            SELECT doc_id, url, hrefs,
                   unnest(generate_series(1, len(hrefs))) AS i
            FROM lk_hx
        ),
        lk_res AS (
            SELECT doc_id, url, CAST(i - 1 AS INT) AS pos, hrefs[i] AS href,
                   {resolve} AS resolved0
            FROM lk_pe
        ),
        lk_edges AS (
            SELECT doc_id, url, pos, href,
                   {L.SQL_STRIP_FRAGMENT.format(h="resolved0")} AS resolved
            FROM lk_res WHERE resolved0 IS NOT NULL
        ),
        lk_full AS (
            SELECT doc_id, url, pos, href, resolved,
                   {U.SQL_URL_HOST.format(c="resolved")} AS dst_host,
                   {U.SQL_URL_HOST.format(c="resolved")}
                       = {U.SQL_URL_HOST.format(c="url")} AS internal
            FROM lk_edges
        )
    """


def _outlinks_oracle() -> str:
    return f"""
        WITH {_sql_link_edges()}
        SELECT doc_id, url, pos, href, resolved, dst_host, internal
        FROM lk_full
    """


def _host_degree_oracle() -> str:
    from ocr_spark.functions import urls as U

    return f"""
        WITH {_sql_link_edges()},
        hg AS (
            SELECT {U.SQL_URL_HOST.format(c="url")} AS src_host, dst_host,
                   count(*) AS n_links
            FROM lk_full WHERE NOT internal
            GROUP BY 1, 2
        ),
        outs AS (
            -- CAST: DuckDB sum() yields HUGEINT -> pandas float64, which
            -- hash-mismatches Spark's int64 despite identical values (the
            -- one red driver row in round 3); same convention as every
            -- other sum-oracle in this file
            SELECT src_host AS host, CAST(sum(n_links) AS BIGINT) AS out_links,
                   count(*) AS out_hosts
            FROM hg GROUP BY 1
        ),
        ins AS (
            SELECT dst_host AS host, CAST(sum(n_links) AS BIGINT) AS in_links,
                   count(*) AS in_hosts
            FROM hg GROUP BY 1
        )
        SELECT coalesce(o.host, i.host) AS host,
               CAST(coalesce(out_links, 0) AS BIGINT) AS out_links,
               coalesce(out_hosts, 0) AS out_hosts,
               CAST(coalesce(in_links, 0) AS BIGINT) AS in_links,
               coalesce(in_hosts, 0) AS in_hosts
        FROM outs o FULL OUTER JOIN ins i ON o.host = i.host
    """


def _pagerank_oracle(seeds: list[str] | None = None) -> str:
    """DuckDB twin of q_pagerank_hosts / q_trustrank_hosts: the power
    iteration UNROLLED as ``PAGERANK_ITERATIONS`` CTE triples (contrib -> flowed
    -> ranks). ``seeds`` switches the teleport vector from uniform 1/n
    to the TrustRank CASE over the seed set (1/|seeds∩hosts|, the
    lk_sn scalar), mirroring the operator formula for formula. Float sum
    order differs between engines at the last ulp; both sides round to
    6 dp (and the parity harness to 4 dp), far above ulp drift, far
    below rank gaps.

    Every iteration CTE is AS MATERIALIZED: each r_k is referenced by
    c_{k+1}, and c_k twice (directly and via f_k) — with default
    inlining the expansion doubles per round and the 8-round plan never
    finishes; materialization makes the chain linear, mirroring what
    the Spark side's localCheckpoint does for lineage."""
    from ocr_spark.functions import urls as U
    from ocr_spark.operators.links import PAGERANK_DAMPING as damping
    from ocr_spark.operators.links import PAGERANK_ITERATIONS as iterations

    if seeds is None:
        sn_cte = ""
        sn_join = ""
        r0_rank = "1.0 / nh.n"
        iter_rank = (f"(1.0 - {damping}) / nh.n"
                     f" + {damping} * (coalesce(c.contrib, 0.0)"
                     f" + (1.0 - f.flowed) / nh.n)")
    else:
        inlist = ", ".join(f"'{s}'" for s in sorted(set(seeds)))
        sn_cte = (f"lk_sn AS MATERIALIZED (SELECT count(*) AS s"
                  f" FROM lk_hosts WHERE host IN ({inlist})),")
        sn_join = " CROSS JOIN lk_sn sn"
        tele = (f"(CASE WHEN h.host IN ({inlist})"
                f" THEN 1.0 / sn.s ELSE 0.0 END)")
        r0_rank = tele
        iter_rank = (f"(1.0 - {damping}) * {tele}"
                     f" + {damping} * (coalesce(c.contrib, 0.0)"
                     f" + (1.0 - f.flowed) * {tele})")
    prev = "r0"
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
        c{k} AS MATERIALIZED (
            SELECT t.dst_host AS host, sum(t.w * r.rank) AS contrib
            FROM lk_trans t JOIN {prev} r ON t.src_host = r.host
            GROUP BY 1
        ),
        f{k} AS MATERIALIZED (
            SELECT coalesce(sum(contrib), 0.0) AS flowed FROM c{k}
        ),
        r{k} AS MATERIALIZED (
            SELECT h.host,
                   {iter_rank} AS rank
            FROM lk_hosts h
            CROSS JOIN lk_nh nh CROSS JOIN f{k} f{sn_join}
            LEFT JOIN c{k} c ON h.host = c.host
        )""")
        prev = f"r{k}"
    return f"""
        WITH {_sql_link_edges()},
        hg AS MATERIALIZED (
            SELECT {U.SQL_URL_HOST.format(c="url")} AS src_host, dst_host,
                   count(*) AS n_links
            FROM lk_full WHERE NOT internal
            GROUP BY 1, 2
        ),
        lk_outw AS (
            SELECT src_host, sum(n_links) AS out_w FROM hg GROUP BY 1
        ),
        lk_trans AS MATERIALIZED (
            SELECT h.src_host, h.dst_host, h.n_links * 1.0 / o.out_w AS w
            FROM hg h JOIN lk_outw o ON h.src_host = o.src_host
        ),
        lk_hosts AS MATERIALIZED (
            SELECT DISTINCT host FROM (
                SELECT src_host AS host FROM hg
                UNION ALL SELECT dst_host FROM hg
            )
        ),
        lk_nh AS MATERIALIZED (SELECT count(*) AS n FROM lk_hosts),
        {sn_cte}
        r0 AS (SELECT h.host, {r0_rank} AS rank
               FROM lk_hosts h CROSS JOIN lk_nh nh{sn_join}),
        {",".join(iters)}
        SELECT host, round(rank, 6) AS rank FROM {prev}
    """


def _anchor_terms_oracle() -> str:
    """DuckDB twin of q_anchor_terms: whole-anchor-tag harvest, per-tag
    href/anchor extraction (the mis-pair-proof pairing), the same RFC 3986
    resolution CASE, external edges only, (dst_host, term) counts, top-3
    per host with (n_links desc, term) tie-break."""
    from ocr_spark.functions import links as L
    from ocr_spark.functions import urls as U

    resolve = L.SQL_RESOLVE_HREF.format(h="href", u="url")
    return f"""
        WITH lk_pages AS ({_SQL_LINKY}),
        at_tags AS (
            SELECT doc_id, url,
                   unnest({L.SQL_ANCHOR_TAGS.format(c="html_text")}) AS tag
            FROM lk_pages
        ),
        at_pairs AS (
            SELECT doc_id, url,
                   {L.SQL_TAG_HREF.format(t="tag")} AS href,
                   {L.SQL_TAG_ANCHOR.format(t="tag")} AS anchor
            FROM at_tags
        ),
        at_res AS (
            SELECT url, anchor,
                   {L.SQL_STRIP_FRAGMENT.format(h=resolve)} AS resolved
            FROM at_pairs
        ),
        at_ext AS (
            SELECT {U.SQL_URL_HOST.format(c="resolved")} AS dst_host, anchor
            FROM at_res
            WHERE resolved IS NOT NULL
              AND {U.SQL_URL_HOST.format(c="resolved")}
                  <> {U.SQL_URL_HOST.format(c="url")}
        ),
        at_toks AS (
            SELECT dst_host,
                   unnest(list_filter(
                       regexp_split_to_array(lower(anchor), '[^a-z0-9]+'),
                       t -> t <> '')) AS term
            FROM at_ext
        ),
        at_counts AS (
            SELECT dst_host, term, count(*) AS n_links
            FROM at_toks GROUP BY 1, 2
        )
        SELECT dst_host, term, n_links, rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY dst_host ORDER BY n_links DESC, term
            ) AS rank
            FROM at_counts
        ) WHERE rank <= 3
    """


# same bytes as _canon_pages, rebuilt in SQL ('t' = decade leader id)
_SQL_CANON_PAGES = """
    SELECT doc_id,
           'https://h' || (doc_id % 13) || '.example.org/c/' || doc_id
               || '.html' AS url,
           '<html><head>'
               || CASE WHEN doc_id % 4 = 0 THEN ''
                  ELSE '<link rel="canonical" href="'
                       || CASE doc_id % 4
                            WHEN 1 THEN 'https://h'
                                || ((doc_id - (doc_id % 10)) % 13)
                                || '.example.org/c/'
                                || (doc_id - (doc_id % 10)) || '.html'
                            WHEN 2 THEN '/c/' || doc_id || '.html'
                            ELSE '/c/' || (doc_id - (doc_id % 10)) || '.html'
                          END
                       || '"/>'
                  END
               || '</head><body><p>c</p></body></html>' AS html_text
    FROM documents
"""


def _canonical_groups_oracle() -> str:
    """DuckDB twin of q_canonical_groups: extract the declared canonical,
    resolve it against the page URL (same CASE as the link resolver),
    coalesce to self, then one grouped window for size + keeper
    (is_self desc, doc_id — identical to the Spark struct-min)."""
    from ocr_spark.functions import links as L

    canon = (
        "nullif(regexp_extract(html_text, "
        "'<link\\s[^>]*rel=\"canonical\"[^>]*href=\"([^\"]*)\"', 1), '')"
    )
    resolve = L.SQL_RESOLVE_HREF.format(h=canon, u="url")
    return f"""
        WITH cp AS ({_SQL_CANON_PAGES}),
        pc AS (
            SELECT doc_id, url,
                   coalesce({L.SQL_STRIP_FRAGMENT.format(h=resolve)}, url)
                       AS canonical_url
            FROM cp
        ),
        pcs AS (
            SELECT doc_id, url, canonical_url,
                   canonical_url = url AS is_self
            FROM pc
        )
        SELECT doc_id, url, canonical_url, is_self, group_size,
               rn = 1 AS is_keeper
        FROM (
            SELECT *,
                   count(*) OVER (PARTITION BY canonical_url) AS group_size,
                   row_number() OVER (
                       PARTITION BY canonical_url
                       ORDER BY is_self DESC, doc_id
                   ) AS rn
            FROM pcs
        )
    """


def _quality_filter_oracle() -> str:
    """DuckDB twin of q_quality_filter: same canonical tokens, the same
    two-level (id, token) count aggregation, and the same first-failing-
    rule CASE ladder with thresholds imported from operators.quality."""
    from ocr_spark.operators.quality import (
        MAX_MEAN_WORD_LEN,
        MAX_SYMBOL_RATIO,
        MAX_TOP_WORD_RATIO,
        MAX_WORDS,
        MIN_MEAN_WORD_LEN,
        MIN_WORDS,
    )

    reason = f"""CASE
        WHEN n_words < {MIN_WORDS} THEN 'too_short'
        WHEN n_words > {MAX_WORDS} THEN 'too_long'
        WHEN mean_word_len < {MIN_MEAN_WORD_LEN}
             OR mean_word_len > {MAX_MEAN_WORD_LEN} THEN 'word_len'
        WHEN symbol_ratio > {MAX_SYMBOL_RATIO} THEN 'symbol_heavy'
        WHEN top_word_ratio > {MAX_TOP_WORD_RATIO} THEN 'repetitive'
    END"""
    return f"""
        WITH qf_base AS (
            SELECT doc_id AS id, {_CANON} AS s FROM documents
        ), qf_toks AS (
            SELECT id, s, [t for t in string_split(s, ' ') if t <> ''] AS toks
            FROM qf_base
        ), qf_tc AS (
            SELECT id, tok, count(*) AS c
            FROM (SELECT id, unnest(toks) AS tok FROM qf_toks)
            GROUP BY id, tok
        ), qf_stats AS (
            SELECT id, CAST(sum(c) AS BIGINT) AS n_words,
                   round(sum(c * length(tok)) * 1.0 / sum(c), 4) AS mean_word_len,
                   CAST(max(c) AS BIGINT) AS top_c
            FROM qf_tc GROUP BY id
        ), qf_j AS (
            SELECT t.id, coalesce(n_words, 0) AS n_words, mean_word_len,
                   round(length(regexp_replace(s, '[a-z0-9 ]', '', 'g')) * 1.0
                         / greatest(length(s), 1), 4) AS symbol_ratio,
                   round(top_c * 1.0 / coalesce(n_words, 1), 4) AS top_word_ratio
            FROM qf_toks t LEFT JOIN qf_stats st ON t.id = st.id
        )
        SELECT id AS doc_id, n_words, mean_word_len, symbol_ratio,
               top_word_ratio, ({reason}) IS NULL AS kept,
               {reason} AS drop_reason
        FROM qf_j
    """


def _token_budget_mix_oracle() -> str:
    """DuckDB twin of q_token_budget_mix: same token count, same quality
    arithmetic, same (quality DESC, doc_id) running-sum window per lang,
    budgets imported from the operator so they cannot drift."""
    from ocr_spark.operators.mixing import MIX_BUDGETS

    budgets = ", ".join(f"('{k}', {v})" for k, v in sorted(MIX_BUDGETS.items()))
    return f"""
        WITH scored AS (
            SELECT doc_id, lang, len({_TOKENS}) AS n_tokens,
                   {_QUALITY} AS quality
            FROM documents
        ), b(lang, budget) AS (VALUES {budgets}),
        cum AS (
            SELECT s.doc_id, s.lang, s.n_tokens, s.quality, b.budget,
                   sum(s.n_tokens) OVER (
                       PARTITION BY s.lang
                       ORDER BY s.quality DESC, s.doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
            FROM scored s JOIN b ON s.lang = b.lang
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
               CAST(cum_tokens AS BIGINT) AS cum_tokens,
               (cum_tokens <= budget) AS selected
        FROM cum
    """


def _bloom_sql_parts() -> tuple[str, str]:
    """DuckDB replay of ocr_spark.operators.bloom's (block, mask) pair for
    the ``fp`` key: same md5 base, same Carter-Wegman constants and block
    count (imported so they cannot drift), same mod-63 bit positions.
    Returns SQL text for (block, mask)."""
    from ocr_spark.operators.bloom import _BB_P, BLOOM_AB, BLOOM_N_BLOCKS

    base = f"(('0x' || substr(md5(fp), 1, 15))::BIGINT % {_BB_P})"
    hs = [f"(({a} * {base} + {b}) % {_BB_P})" for a, b in BLOOM_AB]
    block = f"({hs[0]} % {BLOOM_N_BLOCKS})"
    mask = " | ".join(f"(1::BIGINT << ({h} % 63))" for h in hs[1:])
    return block, f"({mask})"


def _bloom_gate_oracle() -> str:
    """DuckDB twin of q_bloom_gate: replays the committed/new split, the
    recrawl text rewrite, the fingerprint, every bloom hash/bit, the
    bit_or block aggregation, and the probe's bits&mask check."""
    block, mask = _bloom_sql_parts()
    return f"""
        WITH committed AS (
            SELECT doc_id, md5({_CANON}) AS fp
            FROM documents WHERE doc_id % 3 <> 0
        ),
        newbatch AS (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 2 = 0 AND p.text IS NOT NULL
                        THEN p.text ELSE d.text END AS text
            FROM documents d
            LEFT JOIN documents p ON p.doc_id = d.doc_id + 1
            WHERE d.doc_id % 3 = 0
        ),
        newfp AS (SELECT doc_id, md5({_CANON}) AS fp FROM newbatch),
        bloom AS (
            SELECT {block} AS block, bit_or({mask}) AS bits
            FROM committed GROUP BY 1
        ),
        probe AS (
            SELECT doc_id, fp, {block} AS block, {mask} AS mask FROM newfp
        )
        SELECT p.doc_id,
               (b.bits IS NOT NULL AND (b.bits & p.mask) = p.mask)
                   AS maybe_seen,
               -- coalesce: a NULL fp (NULL text) probes as NULL under IN,
               -- while the Spark semi-join simply never matches -> false
               coalesce(p.fp IN (SELECT fp FROM committed), FALSE) AS seen
        FROM probe p LEFT JOIN bloom b USING (block)
    """


def _latest_capture_oracle() -> str:
    """DuckDB twin of q_latest_capture: same capture synth, the shared
    SQL_URL_CANON template, and keep = max (warc_ts, doc_id) per canonical
    url replayed as a row_number window."""
    from ocr_spark.functions import urls as U

    canon = U.SQL_URL_CANON.format(c="url")
    return f"""
        WITH caps AS (
            SELECT doc_id,
                   'HTTPS://'
                   || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN 'crawler@' ELSE '' END
                   || 'h' || ((doc_id % 200) % 23) || '.Example.ORG'
                   || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
                   || '/p/' || (doc_id % 200)
                   || CASE WHEN doc_id % 2 = 0
                           THEN '?utm_source=x&b=2&a=1#frag'
                           ELSE '?b=2&a=1' END AS url,
                   make_timestamp((1704067200 + (doc_id % 89) * 3600)
                                  * 1000000) AS warc_ts
            FROM documents
        ), canon AS (
            SELECT doc_id, warc_ts, {canon} AS url_canon FROM caps
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY url_canon
                        ORDER BY warc_ts DESC, doc_id DESC) AS rn
            FROM canon
        )
        SELECT url_canon,
               max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_captures,
               strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
        FROM ranked GROUP BY 1
    """


def _within_doc_dedup_oracle() -> str:
    """DuckDB twin of q_within_doc_dedup: same planted line construction,
    and the SAME index-lambda prefix-slice filter semantics (element kept
    iff blank or absent from the preceding slice)."""
    return """
        WITH pages AS (
            SELECT doc_id,
                   concat_ws(chr(10),
                             substr(coalesce(text, ''), 1, 40),
                             substr(coalesce(text, ''), 41, 40),
                             substr(coalesce(text, ''), 1, 40),
                             '',
                             substr(coalesce(text, ''), 81, 40),
                             substr(coalesce(text, ''), 41, 40)) AS text
            FROM documents
        ), split AS (
            SELECT doc_id,
                   regexp_split_to_array(coalesce(text, ''), '\\r?\\n') AS l
            FROM pages
        ), kept AS (
            SELECT doc_id, l,
                   list_filter(l, (x, i) ->
                       trim(x) = '' OR NOT list_contains(l[1:i-1], x)) AS k
            FROM split
        )
        SELECT doc_id,
               array_to_string(k, chr(10)) AS text,
               CAST(len(l) AS BIGINT) AS n_lines,
               CAST(len(l) - len(k) AS BIGINT) AS n_removed
        FROM kept
    """


def _train_eval_split_oracle() -> str:
    """DuckDB twin of q_train_eval_split: same messy-url synth, same host
    canonicalization template, same md5 bucket and cutoff as
    sampling.sample_bucket (eval_frac 0.1 -> bucket < 1000)."""
    from ocr_spark.functions import urls as U

    host = U.SQL_URL_HOST.format(c="url")
    return f"""
        WITH u AS (
            SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents
        ), h AS (
            SELECT doc_id, {host} AS host FROM u
        )
        SELECT doc_id, host,
               CASE WHEN ('0x' || substr(md5(host || ':split'), 1, 8))::BIGINT
                         % 10000 < 1000
                    THEN 'eval' ELSE 'train' END AS split
        FROM h
    """


def _bm25_oracle() -> str:
    """DuckDB twin of q_bm25: same tokenizer, same Lucene-variant idf,
    same k1/b constants, avgdl rounded to 6 dp and scores to 4 dp on both
    engines before ranking."""
    return """
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[A-Za-z0-9_'']+') AS t
            FROM documents
        ), doclen AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   round(sum(dl) / count(*), 6) AS avgdl
            FROM doclen
        ), qtf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            WHERE term IN ('merge', 'spark', 'vector')
            GROUP BY 1, 2
        ), dft AS (
            SELECT term, CAST(count(*) AS BIGINT) AS dft FROM qtf GROUP BY 1
        ), scored AS (
            SELECT q.doc_id,
                   round(sum(
                     ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5))
                     * (q.tf * 2.2
                        / (q.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)))
                   ), 4) AS score
            FROM qtf q
            JOIN dft d USING (term)
            JOIN doclen l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY 1
        )
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored
        ORDER BY score DESC, doc_id ASC
        LIMIT 15
    """


def _semantic_dedup_oracle() -> str:
    """DuckDB twin of q_semantic_dedup: replays the planted corpus, the
    seeded-Lloyd quantizer (seeds = first 16 vectors, one refinement
    iteration, 6-dp means — the exact ivf_centroids replay the ivf_topk
    twin uses), the cluster-size cap, and the within-cluster keep-first
    pairing at the same 4-dp rounded cosine threshold."""
    cos = (
        "round(list_dot_product(ca.e, cb.e)"
        " / (sqrt(list_dot_product(ca.e, ca.e))"
        " * sqrt(list_dot_product(cb.e, cb.e))), 4)"
    )
    return f"""
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02)
            FROM embeddings WHERE vec_id < 8
        ), seeds AS (
            SELECT vec_id AS cent_id, e AS cv FROM corpus WHERE vec_id < 16
        ), assign0 AS (
            SELECT vec_id, cent_id FROM (
                SELECT c.vec_id, s.cent_id,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         list_dot_product(c.e, s.cv)
                         / (sqrt(list_dot_product(c.e, c.e))
                            * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                         s.cent_id ASC) AS rn
                FROM corpus c, seeds s
            ) WHERE rn = 1
        ), dims AS (
            SELECT vec_id, i AS pos, e[i] AS x
            FROM corpus, unnest(generate_series(1, len(e))) AS t(i)
        ), refined AS (
            SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
                SELECT a.cent_id, d.pos, round(avg(d.x), 6) AS m
                FROM assign0 a JOIN dims d ON a.vec_id = d.vec_id
                GROUP BY a.cent_id, d.pos
            ) GROUP BY cent_id
        ), assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT c.vec_id, r.cent_id,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         list_dot_product(c.e, r.cv)
                         / (sqrt(list_dot_product(c.e, c.e))
                            * sqrt(list_dot_product(r.cv, r.cv))) DESC,
                         r.cent_id ASC) AS rn
                FROM corpus c, refined r
            ) WHERE rn = 1
        ), inplay AS (
            SELECT a.vec_id, a.cent_id FROM assign a
            JOIN (SELECT cent_id FROM assign GROUP BY cent_id
                  HAVING count(*) <= 1024) s USING (cent_id)
        ), dup AS (
            SELECT b.vec_id AS id_b, min(a.vec_id) AS dup_of
            FROM inplay a
            JOIN inplay b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            JOIN corpus ca ON ca.vec_id = a.vec_id
            JOIN corpus cb ON cb.vec_id = b.vec_id
            WHERE {cos} >= 0.95
            GROUP BY b.vec_id
        )
        SELECT a.vec_id, a.cent_id,
               (d.dup_of IS NOT NULL) AS is_dup,
               coalesce(d.dup_of, -1) AS dup_of
        FROM assign a LEFT JOIN dup d ON a.vec_id = d.id_b
    """


def _ivf_assign_oracle() -> str:
    """DuckDB twin of q_ivf_assign: seeded-Lloyd replay restricted to the
    committed subset (vec_id < 1500), then the frozen-cell argmax over
    the new batch with the 4-dp winning cosine."""
    return """
        WITH committed AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            WHERE vec_id < 1500
        ), newb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            WHERE vec_id >= 1500
        ), seeds AS (
            SELECT vec_id AS cent_id, e AS cv FROM committed WHERE vec_id < 16
        ), assign0 AS (
            SELECT vec_id, cent_id FROM (
                SELECT c.vec_id, s.cent_id,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         list_dot_product(c.e, s.cv)
                         / (sqrt(list_dot_product(c.e, c.e))
                            * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                         s.cent_id ASC) AS rn
                FROM committed c, seeds s
            ) WHERE rn = 1
        ), dims AS (
            SELECT vec_id, i AS pos, e[i] AS x
            FROM committed, unnest(generate_series(1, len(e))) AS t(i)
        ), refined AS (
            SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
                SELECT a.cent_id, d.pos, round(avg(d.x), 6) AS m
                FROM assign0 a JOIN dims d ON a.vec_id = d.vec_id
                GROUP BY a.cent_id, d.pos
            ) GROUP BY cent_id
        )
        SELECT vec_id, cent_id, round(cos, 4) AS cosine FROM (
            SELECT n.vec_id, r.cent_id,
                   list_dot_product(n.e, r.cv)
                   / (sqrt(list_dot_product(n.e, n.e))
                      * sqrt(list_dot_product(r.cv, r.cv))) AS cos,
                   row_number() OVER (PARTITION BY n.vec_id ORDER BY
                     list_dot_product(n.e, r.cv)
                     / (sqrt(list_dot_product(n.e, n.e))
                        * sqrt(list_dot_product(r.cv, r.cv))) DESC,
                     r.cent_id ASC) AS rn
            FROM newb n, refined r
        ) WHERE rn = 1
    """


def _cluster_sample_oracle() -> str:
    """DuckDB twin of q_cluster_sample: the same seeded-Lloyd replay as the
    semantic_dedup/ivf twins (seeds = first 16 vectors, one refinement
    iteration, 6-dp means) over the PLAIN embeddings table, then the
    md5-uniform pick key and the per-cell rank with id tie-break."""
    return """
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), seeds AS (
            SELECT vec_id AS cent_id, e AS cv FROM corpus WHERE vec_id < 16
        ), assign0 AS (
            SELECT vec_id, cent_id FROM (
                SELECT c.vec_id, s.cent_id,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         list_dot_product(c.e, s.cv)
                         / (sqrt(list_dot_product(c.e, c.e))
                            * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                         s.cent_id ASC) AS rn
                FROM corpus c, seeds s
            ) WHERE rn = 1
        ), dims AS (
            SELECT vec_id, i AS pos, e[i] AS x
            FROM corpus, unnest(generate_series(1, len(e))) AS t(i)
        ), refined AS (
            SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
                SELECT a.cent_id, d.pos, round(avg(d.x), 6) AS m
                FROM assign0 a JOIN dims d ON a.vec_id = d.vec_id
                GROUP BY a.cent_id, d.pos
            ) GROUP BY cent_id
        ), assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT c.vec_id, r.cent_id,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         list_dot_product(c.e, r.cv)
                         / (sqrt(list_dot_product(c.e, c.e))
                            * sqrt(list_dot_product(r.cv, r.cv))) DESC,
                         r.cent_id ASC) AS rn
                FROM corpus c, refined r
            ) WHERE rn = 1
        ), keyed AS (
            SELECT vec_id, cent_id,
                   (('0x' || substr(md5('cbal-1:' || vec_id), 1, 8))::BIGINT
                    % 1000000) AS pick_key
            FROM assign
        )
        SELECT vec_id, cent_id, pick_key,
               CAST(row_number() OVER (PARTITION BY cent_id
                    ORDER BY pick_key, vec_id) AS BIGINT) AS pick_rank,
               (row_number() OVER (PARTITION BY cent_id
                    ORDER BY pick_key, vec_id)) <= 8 AS picked
        FROM keyed
    """


def _host_quality_oracle() -> str:
    """DuckDB twin of q_host_quality: the quality_filter twin's kept column
    aggregated per canonical messy-url host, same support floor and
    kept-fraction threshold."""
    from ocr_spark.functions import urls as U

    return f"""
        WITH qf AS (SELECT doc_id, kept FROM ({_quality_filter_oracle()})),
        hosts AS (
            SELECT doc_id, {U.SQL_URL_HOST.format(c=_SQL_MESSY_URL)} AS host
            FROM documents
        ),
        agg AS (
            SELECT host, count(*) AS n_docs,
                   round(avg(CASE WHEN kept THEN 1.0 ELSE 0.0 END), 4)
                       AS kept_frac
            FROM hosts JOIN qf USING (doc_id)
            GROUP BY host
        )
        SELECT host, n_docs, kept_frac,
               (n_docs >= 5 AND kept_frac < 0.85) AS blocked
        FROM agg
    """


def _host_quality_eb_oracle() -> str:
    """DuckDB twin of q_host_quality_eb: the same kept column, per-host
    (n_docs, n_kept), the corpus-wide rate g as a cross-joined 1-row
    aggregate, the Beta-Binomial posterior mean at strength 20, blocked
    on the 4-dp-rounded smoothed rate."""
    from ocr_spark.functions import urls as U

    return f"""
        WITH qf AS (SELECT doc_id, kept FROM ({_quality_filter_oracle()})),
        hosts AS (
            SELECT doc_id, {U.SQL_URL_HOST.format(c=_SQL_MESSY_URL)} AS host
            FROM documents
        ),
        agg AS (
            SELECT host, count(*) AS n_docs,
                   sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept
            FROM hosts JOIN qf USING (doc_id)
            GROUP BY host
        ),
        g AS (
            SELECT sum(n_kept)::DOUBLE / sum(n_docs)::DOUBLE AS g FROM agg
        )
        SELECT host,
               CAST(n_docs AS BIGINT) AS n_docs,
               round(n_kept::DOUBLE / n_docs::DOUBLE, 4) AS kept_frac,
               round((n_kept + 20.0 * g.g) / (n_docs + 20.0), 4)
                   AS smoothed_frac,
               round((n_kept + 20.0 * g.g) / (n_docs + 20.0), 4) < 0.85
                   AS blocked
        FROM agg, g
    """


def _repetition_stats_oracle() -> str:
    """DuckDB twin of q_repetition_stats: the same deterministic reshaping
    (token pairs -> lines, 5 lines -> paragraph, %7 boilerplate boost),
    then the RELATIONAL formulation of the repetition measurements —
    unnest + groupBy per unit, row_number argmax for the top bigram —
    against the operator's per-row sorted-run fold."""
    from ocr_spark.operators.quality import (
        MAX_DUP_LINE_CHAR_FRAC,
        MAX_DUP_LINE_FRAC,
        MAX_DUP_PARA_FRAC,
        MAX_TOP_BIGRAM_FRAC,
    )

    canon_rs = "trim(regexp_replace(lower(rs_doc.text), '[ \t\n]+', ' ', 'g'))"
    return f"""
        WITH rs_base AS (
            SELECT doc_id,
                   [t for t in string_split({_CANON}, ' ') if t <> ''] AS toks
            FROM documents
        ), rs_boost AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN toks || toks[1:10] || toks[1:10] || toks[1:10]
                        ELSE toks END AS t
            FROM rs_base
        ), rs_lines AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 2 THEN
                       list_transform(generate_series(1, len(t) - 1, 2),
                                      i -> t[i] || ' ' || t[i + 1])
                   ELSE [] END AS lns
            FROM rs_boost
        ), rs_doc AS (
            SELECT doc_id,
                   array_to_string(
                       list_transform(
                           generate_series(1, cast(ceil(len(lns) / 5.0) AS INT)),
                           p -> array_to_string(
                               lns[(p - 1) * 5 + 1:(p - 1) * 5 + 5], chr(10))),
                       chr(10) || chr(10)) AS text
            FROM rs_lines
        ), rs_units AS (
            SELECT doc_id,
                   [u for u in list_transform(
                        string_split(text, chr(10)),
                        x -> trim(regexp_replace(x, '[ \t\n]+', ' ', 'g')))
                    if u <> ''] AS lns,
                   [u for u in list_transform(
                        string_split_regex(text, '\n{{2,}}'),
                        x -> trim(regexp_replace(x, '[ \t\n]+', ' ', 'g')))
                    if u <> ''] AS prs,
                   {canon_rs} AS canon
            FROM rs_doc
        ), rs_lc AS (
            SELECT doc_id, ln, count(*) AS c, length(ln) AS l
            FROM (SELECT doc_id, unnest(lns) AS ln FROM rs_units)
            GROUP BY doc_id, ln
        ), rs_lstat AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                   round((sum(c) - count(*)) * 1.0 / greatest(sum(c), 1), 4)
                       AS dup_line_frac,
                   round(sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) * 1.0
                         / greatest(sum(c * l), 1), 4) AS dup_line_char_frac
            FROM rs_lc GROUP BY doc_id
        ), rs_pc AS (
            SELECT doc_id, pr, count(*) AS c
            FROM (SELECT doc_id, unnest(prs) AS pr FROM rs_units)
            GROUP BY doc_id, pr
        ), rs_pstat AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_paras,
                   round((sum(c) - count(*)) * 1.0 / greatest(sum(c), 1), 4)
                       AS dup_para_frac
            FROM rs_pc GROUP BY doc_id
        ), rs_bg AS (
            SELECT doc_id, t2[i] || ' ' || t2[i + 1] AS bg
            FROM (
                SELECT doc_id, t2,
                       unnest(generate_series(1, len(t2) - 1)) AS i
                FROM (
                    SELECT doc_id,
                           [t for t in string_split(canon, ' ') if t <> ''] AS t2
                    FROM rs_units
                ) WHERE len(t2) >= 2
            )
        ), rs_bgc AS (
            SELECT doc_id, bg, count(*) AS c FROM rs_bg GROUP BY doc_id, bg
        ), rs_top AS (
            SELECT doc_id, c, bg FROM (
                SELECT doc_id, c, bg,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, bg ASC) AS rn
                FROM rs_bgc) WHERE rn = 1
        ), rs_j AS (
            SELECT u.doc_id,
                   coalesce(ls.n_lines, 0) AS n_lines,
                   coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
                   coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
                   coalesce(ps.n_paras, 0) AS n_paras,
                   coalesce(ps.dup_para_frac, 0.0) AS dup_para_frac,
                   round(coalesce(CASE WHEN tp.c >= 2
                                       THEN tp.c * length(tp.bg) END, 0) * 1.0
                         / greatest(length(u.canon), 1), 4) AS top_bigram_frac
            FROM rs_units u
            LEFT JOIN rs_lstat ls ON u.doc_id = ls.doc_id
            LEFT JOIN rs_pstat ps ON u.doc_id = ps.doc_id
            LEFT JOIN rs_top tp ON u.doc_id = tp.doc_id
        )
        SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
               n_paras, dup_para_frac, top_bigram_frac,
               (dup_line_frac > {MAX_DUP_LINE_FRAC}
                OR dup_line_char_frac > {MAX_DUP_LINE_CHAR_FRAC}
                OR dup_para_frac > {MAX_DUP_PARA_FRAC}
                OR top_bigram_frac > {MAX_TOP_BIGRAM_FRAC}) AS repetitive
        FROM rs_j
    """


def _pii_redact_oracle() -> str:
    """DuckDB twin of q_pii_redact: the same planted contacts, RE2
    replays of the Java-regex patterns (the shared subset has identical
    semantics), and the md5 prefix of the redacted text."""
    from ocr_spark.operators.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    return f"""
        WITH pii_seed AS (
            SELECT doc_id,
                   coalesce(text, '')
                   || CASE WHEN doc_id % 2 = 0
                           THEN ' reach user' || doc_id || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 6 = 0
                           THEN ' cc admin' || doc_id || '@mail.example.org'
                           ELSE '' END
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' from 10.' || (doc_id % 256) || '.0.'
                                || (doc_id % 100)
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' call +1415555'
                                || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                           ELSE '' END AS s
            FROM documents
        ), pii_m AS (
            SELECT doc_id, s,
                   len(regexp_extract_all(s, '{EMAIL_RE}')) AS n_emails,
                   len(regexp_extract_all(s, '{IPV4_RE}')) AS n_ipv4,
                   len(regexp_extract_all(s, '{PHONE_RE}')) AS n_phones,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(s, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
                           '{IPV4_RE}', '{IPV4_TOKEN}', 'g'),
                       '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS red
            FROM pii_seed
        )
        SELECT doc_id,
               CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_ipv4 AS BIGINT) AS n_ipv4,
               CAST(n_phones AS BIGINT) AS n_phones,
               CAST(n_emails + n_ipv4 + n_phones AS BIGINT) AS n_pii,
               substr(md5(red), 1, 16) AS red_fp
        FROM pii_m
    """


def _lm_score_oracle() -> str:
    """DuckDB twin of q_lm_score: same canonical tokens, the same
    corpus-level unigram/bigram counts and vocabulary size, the same
    smoothed ln transition probability averaged per document."""
    from ocr_spark.operators.quality import LM_ALPHA

    return f"""
        WITH lm_base AS (
            SELECT doc_id AS id,
                   [t for t in string_split({_CANON}, ' ') if t <> ''] AS toks
            FROM documents
        ), lm_bg AS (
            SELECT id, toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM lm_base WHERE len(toks) >= 2)
        ), lm_uni AS (
            SELECT w1, count(*) AS c1
            FROM (SELECT unnest(toks) AS w1 FROM lm_base) GROUP BY w1
        ), lm_v AS (
            SELECT count(*) AS v FROM lm_uni
        ), lm_bc AS (
            SELECT w1, w2, count(*) AS c2 FROM lm_bg GROUP BY w1, w2
        ), lm_sc AS (
            SELECT id, count(*) AS n_bigrams,
                   round(avg(ln((c2 + {LM_ALPHA}) / (c1 + {LM_ALPHA} * v))), 4)
                       AS lm_logprob
            FROM lm_bg JOIN lm_bc USING (w1, w2) JOIN lm_uni USING (w1)
                 CROSS JOIN lm_v
            GROUP BY id
        )
        SELECT b.id AS doc_id,
               CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, lm_logprob
        FROM lm_base b LEFT JOIN lm_sc ON b.id = lm_sc.id
    """


def _quality_gate_oracle() -> str:
    """DuckDB twin of q_quality_gate: same 4-dp quality score, the rank
    as row_number over (score DESC, doc_id ASC) — the unique tie-break
    makes row_number == exact rank — and the identical ceil cut."""
    return f"""
        WITH s AS (
            SELECT doc_id, {_QUALITY} AS score FROM documents
        ), tot AS (
            SELECT count(*) AS n FROM s
        ), r AS (
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS BIGINT) AS rank
            FROM s
        )
        SELECT r.doc_id, r.score, r.rank,
               r.rank <= CAST(ceil(0.25 * t.n) AS BIGINT) AS kept
        FROM r CROSS JOIN tot t
    """


def _burst_detection_oracle() -> str:
    """DuckDB twin of q_burst_detection: same planted flood, same hour
    truncation, the identical 24-preceding-to-1-preceding frame, and the
    is_burst decision on the SAME 4-dp rounded z-score."""
    return """
        WITH merged AS (
            SELECT event_type, ts FROM events
            UNION ALL
            SELECT event_type, TIMESTAMP '2024-01-15 12:30:00' AS ts
            FROM events WHERE event_id % 7 = 0
        ), hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM merged GROUP BY 1, 2
        ), scored AS (
            SELECT event_type, hour, n_events,
                   avg(n_events) OVER w AS base_avg,
                   stddev_pop(n_events) OVER w AS base_std
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hour, n_events,
               round(base_avg, 4) AS base_avg,
               round(base_std, 4) AS base_std,
               CASE WHEN base_avg IS NOT NULL
                    THEN round((n_events - base_avg)
                               / greatest(base_std, 1.0), 4)
               END AS zscore,
               (coalesce(CASE WHEN base_avg IS NOT NULL
                              THEN round((n_events - base_avg)
                                         / greatest(base_std, 1.0), 4)
                                   > 3.0
                         END, false)
                AND n_events >= 5) AS is_burst
        FROM scored
    """


def _page_types_oracle() -> str:
    """Construction-truth twin of q_page_types: the same planted URL
    strings and the EXPECTED class straight from doc_id arithmetic."""
    return """
        SELECT doc_id,
               'https://h' || (doc_id % 23) || '.example.org' ||
               CASE doc_id % 10
                    WHEN 0 THEN '/'
                    WHEN 1 THEN '/2021/07/14/my-first-post'
                    WHEN 2 THEN '/tag/spark/'
                    WHEN 3 THEN '/tag/spark/page/3/'
                    WHEN 4 THEN '/?q=term'
                    WHEN 5 THEN '/2021/07/'
                    WHEN 6 THEN '/blog/feed/'
                    WHEN 7 THEN '/images/photo.jpg'
                    WHEN 8 THEN '/about'
                    ELSE '/posts/how-to-tune-jobs' END AS url,
               CASE doc_id % 10
                    WHEN 0 THEN 'home'
                    WHEN 1 THEN 'article'
                    WHEN 2 THEN 'tag_listing'
                    WHEN 3 THEN 'pagination'
                    WHEN 4 THEN 'search'
                    WHEN 5 THEN 'calendar'
                    WHEN 6 THEN 'feed'
                    WHEN 7 THEN 'media'
                    WHEN 8 THEN 'other'
                    ELSE 'article' END AS page_type
        FROM documents
    """


def _pq_topk_oracle() -> str:
    """DuckDB twin of q_pq_topk: subvector split, seeded per-subspace
    Lloyd (argmin by the same three-dot squared-L2 expansion, 6-dp
    refined means), final codes, ADC distance table vs vec 0, ordered
    lookup-table sum — the ivf/semantic_dedup replay discipline extended
    per subspace."""
    d_expr = ("list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
              " + list_dot_product({b}, {b})")
    d_sc = d_expr.format(a="s.sv", b="c.cv")
    d_sr = d_expr.format(a="s.sv", b="r.cv")
    d_rq = d_expr.format(a="r.cv", b="q.qv")
    return f"""
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), subs AS (
            SELECT vec_id, m AS sub, e[m*8 + 1 : m*8 + 8] AS sv
            FROM corpus, unnest(generate_series(0, 7)) AS t(m)
        ), seeds AS (
            SELECT sub, vec_id AS cent_id, sv AS cv FROM subs WHERE vec_id < 16
        ), a0 AS (
            SELECT vec_id, sub, cent_id FROM (
                SELECT s.vec_id, s.sub, c.cent_id,
                       row_number() OVER (PARTITION BY s.vec_id, s.sub
                           ORDER BY {d_sc} ASC, c.cent_id ASC) AS rn
                FROM subs s JOIN seeds c ON s.sub = c.sub
            ) WHERE rn = 1
        ), dims AS (
            SELECT vec_id, sub, i AS pos, sv[i] AS x
            FROM subs, unnest(generate_series(1, 8)) AS t(i)
        ), refined AS (
            SELECT sub, cent_id, list(mv ORDER BY pos) AS cv FROM (
                SELECT a.sub, a.cent_id, d.pos, round(avg(d.x), 6) AS mv
                FROM a0 a JOIN dims d
                     ON a.vec_id = d.vec_id AND a.sub = d.sub
                GROUP BY a.sub, a.cent_id, d.pos
            ) GROUP BY sub, cent_id
        ), codes AS (
            SELECT vec_id, sub, cent_id AS code FROM (
                SELECT s.vec_id, s.sub, r.cent_id,
                       row_number() OVER (PARTITION BY s.vec_id, s.sub
                           ORDER BY {d_sr} ASC, r.cent_id ASC) AS rn
                FROM subs s JOIN refined r ON s.sub = r.sub
            ) WHERE rn = 1
        ), qsubs AS (
            SELECT sub, sv AS qv FROM subs WHERE vec_id = 0
        ), dtab AS (
            SELECT r.sub, r.cent_id, {d_rq} AS d
            FROM refined r JOIN qsubs q ON r.sub = q.sub
        ), approx AS (
            SELECT c.vec_id, round(sum(t.d), 4) AS adist
            FROM codes c JOIN dtab t
                 ON c.sub = t.sub AND c.code = t.cent_id
            GROUP BY c.vec_id
        )
        SELECT vec_id, adist,
               CAST(row_number() OVER (ORDER BY adist ASC, vec_id ASC)
                    AS INT) AS rank
        FROM approx ORDER BY adist ASC, vec_id ASC LIMIT 10
    """


def _rp_project_oracle() -> str:
    """DuckDB twin of q_rp_project: the same seeded ±1 matrix inlined as
    literals, each projected coordinate an UNROLLED left-associated sum
    over the double-cast embedding, divided by the identical sqrt(k)
    double literal and rounded to 4 dp; zipped unnests produce the same
    (vec_id, j, p) long format."""
    import math

    from ocr_spark.operators.similarity import RP_K, rp_matrix

    signs = rp_matrix()
    scale = repr(math.sqrt(float(RP_K)))

    def coord(row: list[float]) -> str:
        s = " + ".join(
            f"e[{i + 1}]*{row[i]!r}" for i in range(len(row))
        )
        return f"round(({s}) / {scale}, 4)"

    p_list = ", ".join(coord(row) for row in signs)
    j_list = ", ".join(str(j) for j in range(len(signs)))
    return f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        )
        SELECT vec_id,
               CAST(unnest([{j_list}]) AS BIGINT) AS j,
               unnest([{p_list}]) AS p
        FROM base
    """


def _hll_distinct_oracle() -> str:
    """DuckDB twin of q_hll_distinct: identical 52-bit md5 hash, bucket
    split, leading-zero rank (shared rest=0 CASE), max-per-register, and
    the exact-integer harmonic denominator; the only float ops are the
    same single division / ln / round the Spark side runs, from the same
    inlined constants (operators/sketches.py)."""
    from ocr_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_P,
        HLL_REST_BITS,
        RHO_MAX,
    )

    num = repr(HLL_ALPHA * HLL_M * HLL_M)  # same double literal as F.lit
    scale = 1 << RHO_MAX  # 2^45, exact BIGINT (see operators/sketches.py)
    assert HLL_REST_BITS == RHO_MAX - 1
    return f"""
        WITH h AS (
            SELECT lang AS grp,
                   ('0x' || substr(md5(text), 1, 13))::BIGINT AS h
            FROM documents
            WHERE text IS NOT NULL
        ), rr AS (
            SELECT grp, CAST(h % {HLL_M} AS INT) AS bucket,
                   CASE WHEN (h >> {HLL_P}) = 0 THEN {RHO_MAX}
                        ELSE {RHO_MAX} - length(bin(h >> {HLL_P}))
                   END AS rho
            FROM h
        ), regs AS (
            SELECT grp, bucket, max(rho) AS rho FROM rr GROUP BY grp, bucket
        ), agg AS (
            SELECT grp, count(*) AS registers_used,
                   CAST(sum({scale}::BIGINT >> rho) AS BIGINT)
                       AS z_present
            FROM regs GROUP BY grp
        ), est0 AS (
            SELECT grp, registers_used,
                   ({HLL_M} - registers_used) AS v,
                   ({num}::DOUBLE * {scale}::DOUBLE)
                       / (({HLL_M} - registers_used)::BIGINT * {scale}::BIGINT
                          + z_present)::DOUBLE AS raw
            FROM agg
        ), fin AS (
            SELECT grp, registers_used,
                   CASE WHEN raw <= {2.5 * HLL_M!r} AND v > 0
                        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v)
                        ELSE raw END AS est
            FROM est0
        ), ex AS (
            SELECT lang AS grp, count(DISTINCT text) AS exact_distinct
            FROM documents GROUP BY lang
        )
        SELECT f.grp,
               CAST(round(f.est) AS BIGINT) AS est_distinct,
               CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
               CAST(f.registers_used AS BIGINT) AS registers_used,
               round(abs(CAST(round(f.est) AS BIGINT) - ex.exact_distinct)
                     / ex.exact_distinct::DOUBLE, 4) AS rel_err
        FROM fin f JOIN ex ON f.grp = ex.grp
    """


def _expansion_terms_oracle() -> str:
    """DuckDB twin of q_expansion_terms: the bm25 oracle body verbatim
    as the feedback CTE, corpus df over distinct (doc, term), the same
    ln((N+1)/(df+1)) idf literal and 4-dp weights, stopword + seed
    exclusion, top-8 with term tie-break."""
    from ocr_spark.functions.text import SQL_STOPWORDS_IN

    return f"""
        WITH bm AS ({_bm25_oracle()}),
        toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             '[A-Za-z0-9_'']+')) AS term
            FROM documents
        ), nd AS (
            SELECT count(*) AS n FROM documents
        ), dft AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
        ), fb AS (
            SELECT t.term, CAST(count(*) AS BIGINT) AS fb_tf
            FROM toks t JOIN bm ON t.doc_id = bm.doc_id
            WHERE t.term NOT IN ('merge', 'spark', 'vector')
              AND t.term NOT IN {SQL_STOPWORDS_IN}
            GROUP BY 1
        ), scored AS (
            SELECT f.term,
                   round(f.fb_tf * ln((nd.n + 1.0) / (d.df + 1.0)), 4) AS weight
            FROM fb f JOIN dft d USING (term) CROSS JOIN nd
        )
        SELECT term, weight,
               CAST(row_number() OVER (ORDER BY weight DESC, term ASC) AS INT)
                   AS rank
        FROM scored
        ORDER BY weight DESC, term ASC
        LIMIT 8
    """


def _more_like_this_oracle() -> str:
    """DuckDB twin of q_more_like_this: same tokenizer, same
    ln((N+1)/(df+1)) idf, same 4-dp-round-then-x10000 integer weights,
    exact BIGINT dots/norms, one final divide/sqrt/round, top-10 with
    id tie-break."""
    return """
        WITH toks AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             '[A-Za-z0-9_'']+')) AS term
            FROM documents
        ), nd AS (SELECT count(*) AS n FROM documents),
        tf AS (
            SELECT id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ), dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), wtab AS (
            SELECT t.id, t.term,
                   CAST(round(round(t.tf * ln((nd.n + 1.0) / (d.df + 1.0)), 4)
                              * 10000) AS BIGINT) AS w
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN nd
        ), norms AS (
            SELECT id, CAST(sum(w * w) AS BIGINT) AS norm2 FROM wtab GROUP BY 1
        ), qv AS (
            SELECT term, w AS qw FROM wtab WHERE id = 1
        ), qn AS (
            SELECT norm2 AS qnorm2 FROM norms WHERE id = 1
        ), dots AS (
            SELECT w.id, CAST(sum(w.w * q.qw) AS BIGINT) AS dot
            FROM wtab w JOIN qv q USING (term)
            WHERE w.id <> 1 GROUP BY 1
        ), scored AS (
            SELECT d.id AS doc_id,
                   round(d.dot / sqrt(n.norm2::DOUBLE * qn.qnorm2::DOUBLE), 4)
                       AS cosine
            FROM dots d JOIN norms n USING (id) CROSS JOIN qn
        )
        SELECT doc_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC)
                    AS INT) AS rank
        FROM scored
        ORDER BY cosine DESC, doc_id ASC
        LIMIT 10
    """


def _search_snippets_oracle() -> str:
    """DuckDB twin of q_search_snippets: identical tokenizer, the same
    aligned + half-offset candidate-start fan-out (`//` for the int
    division), densest-span row_number with the same
    (first-hit-closest-to-start, earliest-start) tie-break, and
    list_slice snippet cut."""
    from ocr_spark.operators.index import SNIPPET_WINDOW

    w = SNIPPET_WINDOW
    h = w // 2
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[A-Za-z0-9_'']+') AS tk
            FROM documents
        ), pos AS (
            SELECT doc_id, i - 1 AS pos, tk[i] AS term
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS i FROM toks)
        ), qhits AS (
            SELECT doc_id, pos FROM pos
            WHERE term IN ('merge', 'spark', 'vector')
        ), starts AS (
            SELECT doc_id, pos, (pos // {w}) * {w} AS start FROM qhits
            UNION ALL
            SELECT doc_id, pos, ((pos - {h}) // {w}) * {w} + {h} AS start
            FROM qhits WHERE pos >= {h}
        ), hits AS (
            SELECT doc_id, start, count(*) AS n_hits,
                   min(pos) AS first_hit
            FROM starts GROUP BY 1, 2
        ), best AS (
            SELECT doc_id, start, n_hits FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY n_hits DESC, first_hit - start ASC, start ASC
                ) AS rn
                FROM hits) WHERE rn = 1
        )
        SELECT b.doc_id,
               CAST(b.start AS BIGINT) AS start,
               CAST(b.n_hits AS BIGINT) AS n_hits,
               array_to_string(
                   list_slice(t.tk, b.start + 1, b.start + {w}), ' '
               ) AS snippet
        FROM best b JOIN toks t USING (doc_id)
    """


def _hybrid_search_oracle() -> str:
    """DuckDB twin of q_hybrid_search: the bm25 and cosine oracle bodies
    verbatim as CTEs, then the identical 1/(60+rank) fold, 6-dp round,
    row_number with id tie-break, top-10."""
    from ocr_spark.operators.index import RRF_K

    return f"""
        WITH bm AS ({_bm25_oracle()}),
        cs AS (
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 20
        ), csr AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM cs
        ), unioned AS (
            SELECT doc_id, 1.0 / ({RRF_K} + rank) AS s FROM bm
            UNION ALL
            SELECT doc_id, 1.0 / ({RRF_K} + rank) AS s FROM csr
        ), fused AS (
            SELECT doc_id, round(sum(s), 6) AS rrf_score
            FROM unioned GROUP BY doc_id
        )
        SELECT doc_id, rrf_score,
               CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                    AS INT) AS fused_rank
        FROM fused
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 10
    """


def _phrase_search_oracle() -> str:
    """Independent DuckDB construction for q_phrase_search: count phrase
    starts per document with a list comprehension over the token array
    (no joins at all — first-principles truth for the postings chain)."""
    phrase = PHRASE_QUERY
    k = len(phrase)
    conds = " AND ".join(
        f"tk[i + {j}] = '{t}'" for j, t in enumerate(phrase)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[A-Za-z0-9_'']+') AS tk
            FROM documents
        ), hits AS (
            SELECT doc_id,
                   len([i for i in generate_series(1, len(tk) - {k - 1})
                        if {conds}]) AS n_matches
            FROM toks
        )
        SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
        FROM hits WHERE n_matches > 0
    """


def _sketch_quantiles_oracle() -> str:
    """DuckDB twin of q_sketch_quantiles: identical integer bucket ids
    (`//` for Spark's `div`), count histogram, cumulative window over
    bucket rows, ceil(q*n) inverted-CDF pick, and the same midpoint
    reconstruction with one final /2.0."""
    from ocr_spark.operators.sketches import DD_EXACT_MAX, DD_SUBS

    base = "(1::BIGINT << (length(bin(x)) - 1))"
    e16 = DD_EXACT_MAX + 1
    oct_ = f"((bucket - {e16}) // {DD_SUBS})"
    w = f"(1::BIGINT << ({oct_} + 1))"
    lower = f"((1::BIGINT << ({oct_} + 4)) + ((bucket - {e16}) % {DD_SUBS}) * {w})"
    return f"""
        WITH vals AS (
            SELECT lang AS grp, n_chars AS x FROM documents
            WHERE n_chars IS NOT NULL AND n_chars >= 0
        ), bk AS (
            SELECT grp,
                   CASE WHEN x <= {DD_EXACT_MAX} THEN CAST(x AS BIGINT)
                        ELSE CAST({e16} + (length(bin(x)) - 5) * {DD_SUBS}
                             + ((x - {base}) * {DD_SUBS}) // {base} AS BIGINT)
                   END AS bucket
            FROM vals
        ), regs AS (
            SELECT grp, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2
        ), tot AS (
            SELECT grp, sum(cnt) AS n FROM regs GROUP BY 1
        ), cum AS (
            SELECT grp, bucket,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum
            FROM regs
        ), qq AS (
            SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q
        ), pick AS (
            SELECT c.grp, qq.q, t.n, min(c.bucket) AS bucket
            FROM cum c JOIN tot t USING (grp) CROSS JOIN qq
            WHERE c.cum >= ceil(qq.q * t.n)
            GROUP BY 1, 2, 3
        )
        SELECT grp, q,
               CASE WHEN bucket <= {DD_EXACT_MAX} THEN CAST(bucket AS DOUBLE)
                    ELSE (2 * {lower} + {w}) / 2.0 END AS est_value,
               CAST(n AS BIGINT) AS n
        FROM pick
    """


def _bitext_pairs_oracle() -> str:
    """DuckDB twin of q_bitext_pairs: same slug derivation, min-doc_id
    representative per (slug, lang), equi-join with lang_a < lang_b, and
    the 0.5..2.0 double length-ratio gate rounded to 4 dp."""
    from ocr_spark.operators.bitext import RATIO_MAX, RATIO_MIN

    return f"""
        WITH reps AS (
            SELECT (doc_id % 257) AS slug, lang,
                   min(doc_id) AS doc_id,
                   min_by(n_chars, doc_id) AS n_chars
            FROM documents GROUP BY 1, 2
        )
        SELECT a.slug, a.lang AS lang_a, b.lang AS lang_b,
               a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(a.n_chars / b.n_chars::DOUBLE, 4) AS len_ratio
        FROM reps a JOIN reps b ON a.slug = b.slug AND a.lang < b.lang
        WHERE a.n_chars > 0 AND b.n_chars > 0
          AND a.n_chars / b.n_chars::DOUBLE >= {RATIO_MIN!r}
          AND a.n_chars / b.n_chars::DOUBLE <= {RATIO_MAX!r}
    """


def _lm_crossentropy_oracle() -> str:
    """DuckDB twin of q_lm_crossentropy: counts fit on the EVEN docs,
    ODD docs scored via LEFT joins with the smoothing floor for unseen
    words/bigrams, same planted-OOV construction and 4-dp average."""
    from ocr_spark.operators.quality import LM_ALPHA

    return f"""
        WITH ref_base AS (
            SELECT [t for t in string_split({_CANON}, ' ') if t <> ''] AS toks
            FROM documents WHERE doc_id % 2 = 0
        ), ref_bg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM ref_base WHERE len(toks) >= 2)
        ), lm_uni AS (
            SELECT w1, count(*) AS c1
            FROM (SELECT unnest(toks) AS w1 FROM ref_base) GROUP BY w1
        ), lm_v AS (
            SELECT count(*) AS v FROM lm_uni
        ), lm_bc AS (
            SELECT w1, w2, count(*) AS c2 FROM ref_bg GROUP BY w1, w2
        ), tgt0 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 1
                        THEN 'novelword' || doc_id || ' ' || text
                        ELSE text END AS text
            FROM documents WHERE doc_id % 2 = 1
        ), tgt_base AS (
            SELECT doc_id AS id,
                   [t for t in string_split({_CANON}, ' ') if t <> ''] AS toks
            FROM tgt0
        ), tgt_bg AS (
            SELECT id, toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM tgt_base WHERE len(toks) >= 2)
        ), lm_sc AS (
            SELECT id, count(*) AS n_bigrams,
                   sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS oov_words,
                   round(avg(ln((coalesce(c2, 0) + {LM_ALPHA})
                                / (coalesce(c1, 0) + {LM_ALPHA} * v))), 4)
                       AS lm_logprob
            FROM tgt_bg LEFT JOIN lm_bc USING (w1, w2)
                 LEFT JOIN lm_uni USING (w1) CROSS JOIN lm_v
            GROUP BY id
        )
        SELECT b.id AS doc_id,
               CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(coalesce(oov_words, 0) AS BIGINT) AS oov_words,
               lm_logprob
        FROM tgt_base b LEFT JOIN lm_sc ON b.id = lm_sc.id
    """


def _quality_classifier_oracle() -> str:
    """DuckDB twin of q_quality_classifier: same tokens, same unigram ++
    adjacent-bigram feature stream, same md5 bucket + synthetic weight,
    same 4-dp sigmoid gate."""
    return """
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[A-Za-z0-9_'']+') AS t
            FROM documents
        ), feats AS (
            SELECT doc_id,
                   unnest(t || [t[i] || ' ' || t[i+1]
                                for i in generate_series(1, greatest(len(t) - 1, 0))])
                       AS feat
            FROM toks
        ), w AS (
            SELECT doc_id,
                   (('0x' || substr(md5('qclf-1:w:' ||
                        (('0x' || substr(md5('qclf-1:' || feat), 1, 8))::BIGINT
                         % 262144)), 1, 8))::BIGINT % 10000) / 10000.0 - 0.5
                       AS weight
            FROM feats
        ), agg AS (
            SELECT doc_id, count(*) AS n_feats, sum(weight) AS w_sum
            FROM w GROUP BY doc_id
        ), scored AS (
            SELECT d.doc_id,
                   coalesce(a.n_feats, 0) AS n_feats,
                   round(1.0 / (1.0 + exp(-(coalesce(a.w_sum, 0)
                         / greatest(coalesce(a.n_feats, 0), 1)))), 4)
                       AS score
            FROM documents d LEFT JOIN agg a USING (doc_id)
        )
        SELECT doc_id, n_feats, score, (score >= 0.5) AS kept FROM scored
    """


def _perplexity_buckets_oracle() -> str:
    """DuckDB twin of q_perplexity_buckets: the lm_score oracle's 4-dp
    scores, a plain per-lang row_number over (score DESC, doc_id) — the
    distributed ntile's exact semantics — and floor-tercile buckets;
    unscored (NULL-score) docs union back with bucket 'unscored'."""
    return f"""
        WITH lm AS ({_lm_score_oracle()}),
        j AS (
            SELECT d.doc_id, d.lang, lm.lm_logprob
            FROM documents d JOIN lm USING (doc_id)
        ), r AS (
            SELECT doc_id, lang, lm_logprob,
                   CAST(row_number() OVER (
                        PARTITION BY lang
                        ORDER BY lm_logprob DESC, doc_id) AS BIGINT)
                       AS lang_rank,
                   count(*) OVER (PARTITION BY lang) AS cnt
            FROM j WHERE lm_logprob IS NOT NULL
        )
        SELECT doc_id, lang, lm_logprob, lang_rank,
               CASE least(CAST(floor(3.0 * (lang_rank - 1) / cnt) AS INT), 2)
                    WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM r
        UNION ALL
        SELECT doc_id, lang, lm_logprob, CAST(NULL AS BIGINT) AS lang_rank,
               'unscored' AS bucket
        FROM j WHERE lm_logprob IS NULL
    """


def _soft_sample_oracle() -> str:
    """DuckDB twin of q_soft_sample: classifier score as keep
    probability, the portable md5 sample bucket, floor cutoff (Spark's
    double->long cast truncates; scores are non-negative so floor ==
    truncate)."""
    return f"""
        WITH qc AS ({_quality_classifier_oracle()}),
        b AS (
            SELECT doc_id, score,
                   (('0x' || substr(md5(doc_id || ':soft'), 1, 8))::BIGINT
                    % 10000) AS sample_bucket
            FROM qc
        )
        SELECT doc_id, score, sample_bucket,
               sample_bucket < CAST(floor(score * 10000) AS BIGINT) AS kept
        FROM b
    """


def _blocklist_oracle() -> str:
    """DuckDB twin of q_blocklist: same synthesized subdomain-bearing
    hosts, suffix chain via unnest (the oracle may shuffle; the engine
    side is the zero-shuffle column-probe form), deepest match wins
    (max_by on suffix length), duplicate rule domains deduped to the min
    category."""
    return """
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0
                        THEN 'm' || (doc_id % 3) || '.' ELSE '' END
                   || 'h' || (doc_id % 23) || '.example.org' AS host
            FROM documents
        ), rules_raw(domain, category) AS (VALUES
            ('h3.example.org', 'adult'),
            ('h3.example.org', 'zz-dup'),
            ('h9.example.org', 'ads'),
            ('m1.h5.example.org', 'tracker')
        ), rules AS (
            SELECT domain, min(category) AS category
            FROM rules_raw GROUP BY domain
        ), sfx AS (
            SELECT doc_id, i,
                   array_to_string(list_slice(
                       string_split(host, '.'),
                       len(string_split(host, '.')) - i + 1,
                       len(string_split(host, '.'))), '.') AS suffix
            FROM (SELECT doc_id, host,
                         unnest(generate_series(1,
                             least(len(string_split(host, '.')), 5))) AS i
                  FROM u)
        ), m AS (
            SELECT doc_id, max_by(category, i) AS block_category
            FROM sfx JOIN rules ON sfx.suffix = rules.domain
            GROUP BY doc_id
        )
        SELECT u.doc_id, u.host, m.block_category,
               (m.block_category IS NULL) AS kept
        FROM u LEFT JOIN m USING (doc_id)
    """


def _cdx_fetch_plan_oracle() -> str:
    """DuckDB twin of q_cdx_fetch_plan: the same synthesized CDXJ lines,
    frame regex + JSON extraction, per-WARC offset-ordered batches of 4;
    corrupt lines (doc_id % 29 == 0) land under the NULL warc path."""
    return r"""
        WITH lines AS (
            SELECT CASE WHEN doc_id % 29 = 0 THEN 'corrupt ' || doc_id
                   ELSE 'org,example,h' || (doc_id % 23) || ')/p/' || doc_id
                        || ' '
                        || strftime(TIMESTAMP '2026-02-03 04:05:06'
                                    + to_seconds(doc_id), '%Y%m%d%H%M%S')
                        || ' {"url": "https://h' || (doc_id % 23)
                        || '.example.org/p/' || doc_id
                        || '", "mime": "text/html", "status": "200", '
                        || '"digest": "sha1:'
                        || upper(substr(md5('h' || (doc_id % 23)
                               || '.example.org/p/' || doc_id), 1, 16))
                        || '", "length": "' || (500 + doc_id % 1500)
                        || '", "offset": "' || ((doc_id * 2048) % 1000000)
                        || '", "filename": "crawl-data/seg-' || (doc_id % 7)
                        || '/warc/f-' || (doc_id % 13) || '.warc.gz"}'
                   END AS value
            FROM documents
        ), framed AS (
            SELECT value,
                   regexp_extract(value, '^(\S+) (\d{14}) (\{.*\})$', 1)
                       AS surt,
                   nullif(regexp_extract(value,
                          '^(\S+) (\d{14}) (\{.*\})$', 3), '') AS blob
            FROM lines
        ), parsed AS (
            SELECT CASE WHEN ok THEN json_extract_string(blob, '$.url') END
                       AS url,
                   CASE WHEN ok
                        THEN json_extract_string(blob, '$.filename') END
                       AS warc_path,
                   CASE WHEN ok THEN CAST(
                        json_extract_string(blob, '$.offset') AS BIGINT) END
                       AS warc_offset,
                   CASE WHEN ok THEN CAST(
                        json_extract_string(blob, '$.length') AS BIGINT) END
                       AS warc_length
            FROM (SELECT *,
                         surt <> ''
                         AND json_extract_string(blob, '$.url') IS NOT NULL
                         AND json_extract_string(blob, '$.filename')
                             IS NOT NULL AS ok
                  FROM framed)
        ), batched AS (
            SELECT warc_path, warc_offset, warc_length,
                   CAST(floor((row_number() OVER (
                        PARTITION BY warc_path
                        ORDER BY warc_offset ASC NULLS FIRST, url ASC)
                        - 1) / 4) AS INT) AS batch
            FROM parsed
        )
        SELECT warc_path, batch,
               count(*) AS n_records,
               sum(warc_length) AS bytes_total,
               min(warc_offset) AS min_offset,
               max(warc_offset) AS max_offset
        FROM batched
        GROUP BY warc_path, batch
    """


def _host_cap_oracle() -> str:
    from ocr_spark.functions import urls as U
    from ocr_spark.operators.sampling import SAMPLE_DENOM

    host = U.SQL_URL_HOST.format(c="url")
    return f"""
        WITH u AS (
            SELECT doc_id, {host} AS host
            FROM (SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents)
        ), b AS (
            SELECT doc_id, host,
                   ('0x' || substr(md5(doc_id || ':hostcap'), 1, 8))::BIGINT
                       % {SAMPLE_DENOM} AS bkt
            FROM u
        )
        SELECT doc_id, host,
               CAST(row_number() OVER (PARTITION BY host ORDER BY bkt, doc_id)
                    AS INT) AS cap_rank,
               row_number() OVER (PARTITION BY host ORDER BY bkt, doc_id) <= 15
                   AS kept
        FROM b
    """


def _robots_filter_oracle() -> str:
    from ocr_spark.functions import urls as U

    host = U.SQL_URL_HOST.format(c="url")
    path = U.SQL_URL_PATH.format(c="url")
    return f"""
        WITH u AS (
            SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents
        ), p AS (
            SELECT doc_id, {host} AS host, {path} AS path FROM u
        ), hosts AS (
            SELECT DISTINCT host FROM p
        ), robots AS (
            SELECT host,
                   'User-agent: badbot' || chr(10) || 'Disallow: /'
                   || chr(10) || chr(10) ||
                   'User-agent: *' || chr(10) || 'Disallow: /p/1' || chr(10)
                   || 'Disallow:' || chr(10) || 'Crawl-delay: 5' ||
                   CASE WHEN CAST(regexp_extract(host, 'h(\\d+)\\.', 1) AS INT)
                             % 2 = 0
                        THEN chr(10) || 'disallow: /p/2' ELSE '' END AS txt
            FROM hosts
        ), rlines AS (
            SELECT host, i - 1 AS pos, trim(p[i]) AS lt
            FROM (SELECT host, p, unnest(generate_series(1, len(p))) AS i
                  FROM (SELECT host, regexp_split_to_array(txt, '\r?\n') AS p
                        FROM robots))
        ), lagged AS (
            -- group fold, twin of robots_disallow_rules: a UA line starts a
            -- group iff the previous line is not a UA line (stacked UA lines
            -- share a group); running sum of group starts = group id
            SELECT host, pos, lt,
                   starts_with(lower(lt), 'user-agent:') AS is_ua,
                   coalesce(lag(starts_with(lower(lt), 'user-agent:'))
                            OVER (PARTITION BY host ORDER BY pos),
                            false) AS prev_is_ua
            FROM rlines
        ), grouped AS (
            SELECT host, pos, lt, is_ua,
                   sum(CASE WHEN is_ua AND NOT prev_is_ua THEN 1 ELSE 0 END)
                     OVER (PARTITION BY host ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS gid
            FROM lagged
        ), star AS (
            SELECT DISTINCT host, gid FROM grouped
            WHERE is_ua AND lower(trim(substr(lt, 12))) = '*'
        ), rules AS (
            SELECT DISTINCT g.host, trim(substr(g.lt, 10)) AS prefix
            FROM grouped g JOIN star s ON g.host = s.host AND g.gid = s.gid
            WHERE starts_with(lower(g.lt), 'disallow:')
              AND trim(substr(g.lt, 10)) <> ''
        ), hit AS (
            SELECT DISTINCT dp.host, dp.path
            FROM (SELECT DISTINCT host, path FROM p) dp
            JOIN rules r ON dp.host = r.host
                        AND starts_with(dp.path, r.prefix)
        )
        SELECT p.doc_id, p.host, p.path, (h.host IS NULL) AS allowed
        FROM p LEFT JOIN hit h ON p.host = h.host AND p.path = h.path
    """


def _line_dedup_oracle() -> str:
    """DuckDB twin of q_line_dedup: same page assembly, same 60-bit md5
    line hash, doc-frequency > max_df removal, ordered string_agg
    reassembly."""
    from ocr_spark.operators.dedup import LINE_MAX_DF

    return f"""
        WITH asm AS (
            SELECT doc_id,
                   'nav home about contact' || chr(10) || text ||
                   CASE WHEN doc_id % 2 = 0
                        THEN chr(10) || 'shared promo banner' ELSE '' END ||
                   chr(10) || 'site footer terms of service apply' ||
                   chr(10) || 'doc marker ' || doc_id AS text
            FROM documents
        ), parts AS (
            -- coalesce mirrors line_dedup's NULL-text guard: a NULL text
            -- must come back as one empty line, not a vanished document
            SELECT doc_id AS id, string_split(coalesce(text, ''), chr(10)) AS p
            FROM asm
        ), lines AS (
            SELECT id, i - 1 AS pos, p[i] AS line,
                   ('0x' || substr(md5(trim(p[i])), 1, 15))::BIGINT AS lh
            FROM (SELECT id, p, unnest(generate_series(1, len(p))) AS i
                  FROM parts)
        ), hot AS (
            SELECT lh FROM lines WHERE trim(line) <> ''
            GROUP BY lh HAVING count(DISTINCT id) > {LINE_MAX_DF}
        ), marked AS (
            SELECT l.id, l.pos, l.line,
                   (h.lh IS NOT NULL AND trim(l.line) <> '') AS dropped
            FROM lines l LEFT JOIN hot h ON l.lh = h.lh
        )
        SELECT id AS doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT dropped), '') AS text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM marked GROUP BY id
    """


def _paragraph_dedup_oracle() -> str:
    """DuckDB twin of q_paragraph_dedup: same plants, CR strip, \\n{2,}
    split, canonical (lowercase, whitespace-collapsed, trimmed) 60-bit
    md5 identity, df > 8 removal, blank paragraphs structural, ordered
    blank-line reassembly."""
    return r"""
        WITH planted AS (
            SELECT doc_id,
                   text ||
                   CASE WHEN doc_id % 2 = 0 THEN
                        CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || chr(10)
                                  || 'common Footer  promo text'
                             ELSE chr(10) || chr(10)
                                  || 'COMMON FOOTER PROMO TEXT' END
                        ELSE '' END ||
                   CASE WHEN doc_id % 97 = 0
                        THEN chr(10) || chr(10) || 'rare appendix paragraph'
                        ELSE '' END AS text
            FROM documents
        ), parts AS (
            SELECT doc_id AS id,
                   regexp_split_to_array(
                       regexp_replace(coalesce(text, ''), chr(13), '', 'g'),
                       '\n{2,}') AS p
            FROM planted
        ), paras AS (
            SELECT id, i - 1 AS pos, p[i] AS para,
                   trim(regexp_replace(lower(p[i]), '[ ' || chr(9) || chr(10)
                        || ']+', ' ', 'g')) AS canon
            FROM (SELECT id, p, unnest(generate_series(1, len(p))) AS i
                  FROM parts)
        ), keyed AS (
            SELECT id, pos, para, trim(para) = '' AS blank,
                   ('0x' || substr(md5(canon), 1, 15))::BIGINT AS ph
            FROM paras
        ), hot AS (
            SELECT ph FROM keyed WHERE NOT blank
            GROUP BY ph HAVING count(DISTINCT id) > 8
        ), marked AS (
            SELECT k.id, k.pos, k.para,
                   (h.ph IS NOT NULL AND NOT k.blank) AS dropped
            FROM keyed k LEFT JOIN hot h USING (ph)
        )
        SELECT id AS doc_id,
               coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                        FILTER (WHERE NOT dropped), '') AS text,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM marked GROUP BY id
    """


def _common_ngrams_oracle() -> str:
    """DuckDB twin of q_common_ngrams: same canonical tokenization, 8-word
    gram text, 60-bit md5 key, (df desc, gh asc) top-k with min(gram) as
    the representative."""
    from ocr_spark.operators.dedup import COMMON_NGRAMS_TOP as k

    w = 8
    return f"""
        WITH docs AS (
            SELECT doc_id, {_CANON} AS t FROM documents
        ), words AS (
            SELECT doc_id, string_split(t, ' ') AS w FROM docs
            WHERE t <> '' AND len(string_split(t, ' ')) >= {w}
        ), grams AS (
            SELECT doc_id,
                   array_to_string(w[pos + 1 : pos + {w}], ' ') AS gram
            FROM words, unnest(range(0, len(w) - {w - 1})) AS u(pos)
        ), keyed AS (
            SELECT doc_id, gram,
                   ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
            FROM grams
        )
        SELECT gh,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs,
               min(gram) AS example
        FROM keyed
        GROUP BY gh
        ORDER BY df_docs DESC, gh ASC
        LIMIT {k}
    """


def _host_line_dedup_oracle() -> str:
    """DuckDB twin of q_host_boilerplate: same 20-host page assembly, same
    60-bit md5 line hash, host-conditional (n_pages >= 5 AND ldf >
    n_pages * 0.5) removal, ordered string_agg reassembly. Groups hot
    lines by the host STRING where Spark groups by its 60-bit md5 — 20
    distinct hosts cannot collide, so the semantics agree."""
    return """
        WITH asm AS (
            SELECT doc_id,
                   'h' || (doc_id % 20) || '.example.com' AS host,
                   'welcome to h' || (doc_id % 20) || '.example.com portal'
                   || chr(10) || text ||
                   CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'h' || (doc_id % 20)
                             || '.example.com promo of the week'
                        ELSE '' END ||
                   CASE WHEN doc_id % 7 = 0
                        THEN chr(10) || 'powered by examplecms'
                        ELSE '' END ||
                   chr(10) || 'all rights reserved h' || (doc_id % 20)
                   || '.example.com' AS text
            FROM documents
        ), parts AS (
            SELECT doc_id AS id, host,
                   string_split(coalesce(text, ''), chr(10)) AS p
            FROM asm
        ), lines AS (
            SELECT id, host, i - 1 AS pos, p[i] AS line,
                   ('0x' || substr(md5(trim(p[i])), 1, 15))::BIGINT AS lh
            FROM (SELECT id, host, p, unnest(generate_series(1, len(p))) AS i
                  FROM parts)
        ), host_pages AS (
            SELECT host, count(DISTINCT doc_id) AS n_pages FROM asm GROUP BY 1
        ), ldf AS (
            SELECT host, lh, count(DISTINCT id) AS ldf
            FROM lines WHERE trim(line) <> '' GROUP BY 1, 2
        ), hot AS (
            SELECT l.host, l.lh
            FROM ldf l JOIN host_pages hp USING (host)
            WHERE hp.n_pages >= 5 AND l.ldf > hp.n_pages * 0.5
        ), marked AS (
            SELECT l.id, l.host, l.pos, l.line,
                   (h.lh IS NOT NULL AND trim(l.line) <> '') AS dropped
            FROM lines l LEFT JOIN hot h ON l.host = h.host AND l.lh = h.lh
        )
        SELECT id AS doc_id, host,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT dropped), '') AS text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM marked GROUP BY id, host
    """


def _signals_oracle() -> str:
    """DuckDB twin of q_signals: every fused signal re-stated in one
    SELECT — the token/quality/lang/fingerprint fragments shared with
    their focused twins, plus the script/code expressions built from the
    operator module's own range/keyword constants (raw corpus, no plants:
    the constituent operators' planted twins witness non-vacuity)."""
    from ocr_spark.operators.textprofile import (
        CODE_KEYWORDS,
        CODE_SYMBOL_CLS,
        MIN_CODE_INDENT_LINES,
        MIN_CODE_KEYWORDS,
        MIN_CODE_SYM_RATIO,
        SCRIPT_ORDER,
        SCRIPT_RANGES,
    )

    t = "coalesce(text, '')"
    cnt = {
        k: "(length({t}) - length(regexp_replace({t}, '[{cls}]', '', 'g')))"
        .format(t=t, cls=SCRIPT_RANGES[k])
        for k in SCRIPT_ORDER
    }
    nch = "length(regexp_replace({t}, '[ \t\n\r]', '', 'g'))".format(t=t)
    fracs = ", ".join(
        "round(CASE WHEN {n} = 0 THEN 0.0 ELSE {c}::DOUBLE / {n} END, 4)"
        " AS {k}_frac".format(n=nch, c=cnt[k], k=k)
        for k in SCRIPT_ORDER
    )
    dom_branches = []
    for i, k in enumerate(SCRIPT_ORDER):
        later = SCRIPT_ORDER[i + 1:]
        cond = " AND ".join(f"{cnt[k]} >= {cnt[j]}" for j in later) or "TRUE"
        dom_branches.append(f"WHEN {cond} THEN '{k}'")
    dom = ("CASE WHEN greatest("
           + ", ".join(cnt[k] for k in SCRIPT_ORDER)
           + ") = 0 THEN 'other' "
           + " ".join(dom_branches[:-1])
           + f" ELSE '{SCRIPT_ORDER[-1]}' END")
    nsym = ("(length({t}) - length(regexp_replace({t}, '{cls}', '', 'g')))"
            .format(t=t, cls=CODE_SYMBOL_CLS))
    symr = ("round(CASE WHEN {n} = 0 THEN 0.0 ELSE {s}::DOUBLE / {n} END, 4)"
            .format(n=nch, s=nsym))
    indent = ("len(list_filter(string_split({t}, chr(10)),"
              " x -> regexp_matches(x, '^(\t|    )')))".format(t=t))
    kws = ", ".join(f"'{k}'" for k in CODE_KEYWORDS)
    kwh = ("len(list_filter(list_distinct(regexp_extract_all(lower({t}),"
           " '{tok}')), x -> x IN ({kws})))"
           .format(t=t, tok=_TOKEN_SQL, kws=kws))
    return f"""
        SELECT doc_id,
               CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
               CAST({_WS_TOKENS} AS BIGINT) AS n_ws_tokens,
               round({_PUNCT_RATIO}, 4) AS punct_ratio,
               round({_STOP_RATIO}, 4) AS stopword_ratio,
               {_QUALITY} AS quality,
               {_LANG_PRED} AS lang_pred,
               md5({_CANON}) AS fp,
               CAST({nch} AS BIGINT) AS n_chars,
               {fracs},
               {dom} AS dominant_script,
               CAST(len(string_split({t}, chr(10))) AS BIGINT) AS n_lines,
               CAST({indent} AS BIGINT) AS indent_lines,
               {symr} AS sym_ratio,
               CAST({kwh} AS BIGINT) AS kw_hits,
               (({kwh} >= {MIN_CODE_KEYWORDS} AND {indent} >= {MIN_CODE_INDENT_LINES})
                OR {symr} >= {MIN_CODE_SYM_RATIO}) AS is_code
        FROM documents
    """


def _bpe_tokens_oracle() -> str:
    """DuckDB twin of q_bpe_tokens: the identical fitted word->tokens map
    (built from the shared bpe.BPE_TRAIN_COUNTS constant by the same pure
    core, embedded as VALUES), the same tokenize / lookup / '<unk>'
    fallback / ordered join / md5 fingerprint."""
    from ocr_spark.core.bpe import build_word_map

    word_map = build_word_map()
    vals = ", ".join(
        "('{w}', '{t}')".format(w=w, t=t) for w, t in sorted(word_map.items())
    )
    return """
        WITH wmap(w, t) AS (VALUES {VALS}),
        toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')), '{TOK}') AS tk
            FROM documents
        ), pos AS (
            SELECT doc_id, i, tk[i] AS w
            FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
        ), mt AS (
            SELECT p.doc_id, p.i, coalesce(mp.t, '<unk>') AS t
            FROM pos p LEFT JOIN wmap mp ON p.w = mp.w
        ), agg AS (
            SELECT doc_id,
                   count(*) AS n_words,
                   string_agg(t, ' ' ORDER BY i) AS full,
                   sum(CASE WHEN t = '<unk>' THEN 1 ELSE 0 END) AS n_unk
            FROM mt GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(CASE WHEN coalesce(a.full, '') = '' THEN 0
                         ELSE len(string_split(a.full, ' ')) END AS BIGINT)
                   AS n_tokens,
               CAST(coalesce(a.n_unk, 0) AS BIGINT) AS n_unk,
               md5(coalesce(a.full, '')) AS tokens_fp
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """.replace("{VALS}", vals).replace("{TOK}", _TOKEN_SQL)


def _token_fertility_oracle() -> str:
    """DuckDB twin of q_token_fertility: the identical embedded
    word->tokens map, per-word token counts summed per doc (a word's
    token count = len(split(mapped, ' ')) — multi-token words carry
    spaces), strlen() byte lengths, exact BIGINT sums per language, and
    the same guarded 4-dp ratio arithmetic."""
    from ocr_spark.core.bpe import build_word_map

    word_map = build_word_map()
    vals = ", ".join(
        "('{w}', '{t}')".format(w=w, t=t) for w, t in sorted(word_map.items())
    )
    return """
        WITH wmap(w, t) AS (VALUES {VALS}),
        toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')), '{TOK}') AS tk
            FROM documents
        ), pos AS (
            SELECT doc_id, tk[i] AS w
            FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
        ), mt AS (
            SELECT p.doc_id, coalesce(mp.t, '<unk>') AS t
            FROM pos p LEFT JOIN wmap mp ON p.w = mp.w
        ), perdoc AS (
            SELECT doc_id, count(*) AS n_words,
                   sum(len(string_split(t, ' '))) AS n_tokens,
                   sum(CASE WHEN t = '<unk>' THEN 1 ELSE 0 END) AS n_unk
            FROM mt GROUP BY doc_id
        ), base AS (
            SELECT d.lang,
                   CAST(strlen(coalesce(d.text, '')) AS BIGINT) AS n_bytes,
                   CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(p.n_unk, 0) AS BIGINT) AS n_unk
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
        ), agg AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_words,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(n_unk) AS BIGINT) AS n_unk,
                   CAST(sum(n_bytes) AS BIGINT) AS n_bytes
            FROM base GROUP BY lang
        )
        SELECT lang, n_docs, n_words, n_tokens, n_unk, n_bytes,
               CASE WHEN n_words > 0
                    THEN round(n_tokens::DOUBLE / n_words, 4)
                    ELSE 0.0 END AS fertility,
               CASE WHEN n_tokens > 0
                    THEN round(n_bytes::DOUBLE / n_tokens, 4)
                    ELSE 0.0 END AS bytes_per_token,
               CASE WHEN n_tokens > 0
                    THEN round(n_unk::DOUBLE / n_tokens, 4)
                    ELSE 0.0 END AS unk_rate
        FROM agg ORDER BY lang
    """.replace("{VALS}", vals).replace("{TOK}", _TOKEN_SQL)


def _heavy_hitters_oracle() -> str:
    """DuckDB twin of q_heavy_hitters — deliberately the EXACT one-pass
    answer (GROUP BY token, integer-arithmetic threshold), with no model
    of the sketch: the Misra-Gries guarantee says the engine's
    bounded-memory two-pass path must produce exactly this set, so the
    parity check is an end-to-end proof the summary pass lost nothing."""
    from ocr_spark.operators.heavyhitters import HH_M

    return f"""
        WITH asm AS (
            SELECT coalesce(text, '') || ' u' || doc_id
                   || ' alpha alpha alpha alpha beta beta'
                   || CASE WHEN doc_id % 2 = 0 THEN ' gamma' ELSE '' END
                   AS text
            FROM documents
        ), docs AS (
            SELECT {_CANON} AS t FROM asm
        ), toks AS (
            SELECT unnest(string_split(t, ' ')) AS token
            FROM docs WHERE t <> ''
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks
        ), freqs AS (
            SELECT token, CAST(count(*) AS BIGINT) AS freq
            FROM toks GROUP BY token
        )
        SELECT f.token, f.freq, t.n_total
        FROM freqs f CROSS JOIN tot t
        WHERE f.freq * {HH_M + 1} > t.n_total
        ORDER BY f.freq DESC, f.token ASC
    """


def _vocab_growth_oracle() -> str:
    """DuckDB twin of q_vocab_growth: identical tokenizer, the same
    first-occurrence fold (min doc per type), the same strict-prefix
    checkpoint semantics (doc < n_docs), 4-dp type/token ratio."""
    from ocr_spark.operators.textprofile import VOCAB_CHECKPOINTS

    cps = ", ".join(str(c) for c in VOCAB_CHECKPOINTS)
    return f"""
        WITH toks AS (
            SELECT doc_id AS doc,
                   unnest(regexp_extract_all(lower(coalesce(text, '')),
                                             '[A-Za-z0-9_'']+')) AS tok
            FROM documents
        ), doc_tokens AS (
            SELECT doc, count(*) AS n_tok FROM toks GROUP BY doc
        ), hist AS (
            SELECT first_doc, count(*) AS n_new FROM (
                SELECT tok, min(doc) AS first_doc FROM toks GROUP BY tok
            ) GROUP BY first_doc
        ), cps AS (
            SELECT unnest([{cps}])::BIGINT AS n_docs
        ), v AS (
            SELECT c.n_docs, sum(h.n_new) AS vocab_size
            FROM cps c JOIN hist h ON h.first_doc < c.n_docs
            GROUP BY c.n_docs
        ), t AS (
            SELECT c.n_docs, sum(d.n_tok) AS n_tokens
            FROM cps c JOIN doc_tokens d ON d.doc < c.n_docs
            GROUP BY c.n_docs
        )
        SELECT c.n_docs,
               CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(v.vocab_size, 0) AS BIGINT) AS vocab_size,
               CASE WHEN coalesce(t.n_tokens, 0) > 0
                    THEN round(coalesce(v.vocab_size, 0)::DOUBLE
                               / t.n_tokens::DOUBLE, 4)
                    ELSE 0.0 END AS type_token_ratio
        FROM cps c LEFT JOIN t ON c.n_docs = t.n_docs
                   LEFT JOIN v ON c.n_docs = v.n_docs
        ORDER BY c.n_docs
    """


def _script_stats_oracle() -> str:
    """DuckDB twin of q_script_stats: same plants, same explicit
    code-point-range classes (imported from the operator module so the
    two engines cannot drift), counts as length-minus-length-after-
    removal, dominance as the earliest SCRIPT_ORDER entry achieving the
    max (the operator's reversed >= fold)."""
    from ocr_spark.operators.textprofile import SCRIPT_ORDER, SCRIPT_RANGES

    cnt_exprs = ",\n                   ".join(
        "(length(text) - length(regexp_replace(text, '[{cls}]', '', 'g')))"
        " AS c_{k}".format(cls=SCRIPT_RANGES[k], k=k)
        for k in SCRIPT_ORDER
    )
    # earliest-in-order wins ties; 'other' when every count is zero
    dom_branches = []
    for i, k in enumerate(SCRIPT_ORDER):
        later = SCRIPT_ORDER[i + 1:]
        cond = " AND ".join(f"c_{k} >= c_{j}" for j in later) or "TRUE"
        dom_branches.append(f"WHEN {cond} THEN '{k}'")
    dom = ("CASE WHEN greatest("
           + ", ".join(f"c_{k}" for k in SCRIPT_ORDER)
           + ") = 0 THEN 'other' "
           + " ".join(dom_branches[:-1])
           + f" ELSE '{SCRIPT_ORDER[-1]}' END")
    fracs = ",\n               ".join(
        "round(CASE WHEN n_chars = 0 THEN 0.0"
        " ELSE c_{k}::DOUBLE / n_chars END, 4) AS {k}_frac".format(k=k)
        for k in SCRIPT_ORDER
    )
    return """
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN '数据处理系统库 данные x'
                        ELSE coalesce(text, '') ||
                          CASE WHEN doc_id % 4 = 1 THEN ' привет мир данные сеть'
                               WHEN doc_id % 4 = 2 THEN ' 数据处理系统结构'
                               WHEN doc_id % 4 = 3 THEN ' بيانات النظام شبكة'
                               ELSE '' END
                   END AS text
            FROM documents
        ), m AS (
            SELECT doc_id,
                   length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS n_chars,
                   {CNT}
            FROM planted
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               {FRACS},
               {DOM} AS dominant_script
        FROM m
    """.replace("{CNT}", cnt_exprs).replace("{FRACS}", fracs).replace("{DOM}", dom)


def _code_detect_oracle() -> str:
    """DuckDB twin of q_code_detect: same plants, same symbol class /
    keyword list / thresholds (imported from the operator module), the
    keyword count as a distinct-token intersect, is_code evaluated on the
    4-dp ROUNDED sym_ratio exactly as the engine does."""
    from ocr_spark.operators.textprofile import (
        CODE_KEYWORDS,
        MIN_CODE_INDENT_LINES,
        MIN_CODE_KEYWORDS,
        MIN_CODE_SYM_RATIO,
    )

    kws = ", ".join(f"'{k}'" for k in CODE_KEYWORDS)
    return """
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 5 THEN '{"a": [1, 2], "b": {"c": 3}}'
                        ELSE coalesce(text, '') ||
                          CASE WHEN doc_id % 6 = 0
                               THEN chr(10) || 'def main():' || chr(10)
                                    || '    x = [1, 2];' || chr(10)
                                    || '    return x;'
                               WHEN doc_id % 6 = 3 THEN chr(10) || 'var x'
                               ELSE '' END
                   END AS text
            FROM documents
        ), m AS (
            SELECT doc_id,
                   length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS n_chars,
                   len(string_split(text, chr(10))) AS n_lines,
                   len(list_filter(string_split(text, chr(10)),
                       x -> regexp_matches(x, '^(\t|    )'))) AS indent_lines,
                   (length(text)
                    - length(regexp_replace(text, '[{}\\[\\]();=<>]', '', 'g')))
                       AS n_sym,
                   len(list_filter(list_distinct(
                       regexp_extract_all(lower(text), '{TOK}')),
                       x -> x IN ({KWS}))) AS kw_hits
            FROM planted
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_lines AS BIGINT) AS n_lines,
               CAST(indent_lines AS BIGINT) AS indent_lines,
               round(CASE WHEN n_chars = 0 THEN 0.0
                          ELSE n_sym::DOUBLE / n_chars END, 4) AS sym_ratio,
               CAST(kw_hits AS BIGINT) AS kw_hits,
               ((kw_hits >= {MINKW} AND indent_lines >= {MININD})
                OR round(CASE WHEN n_chars = 0 THEN 0.0
                              ELSE n_sym::DOUBLE / n_chars END, 4) >= {MINSYM})
                   AS is_code
        FROM m
    """.replace("{TOK}", _TOKEN_SQL).replace("{KWS}", kws).replace(
        "{MINKW}", str(MIN_CODE_KEYWORDS)
    ).replace("{MININD}", str(MIN_CODE_INDENT_LINES)).replace(
        "{MINSYM}", str(MIN_CODE_SYM_RATIO)
    )


def _dsir_oracle() -> str:
    """DuckDB twin of q_dsir_sample: same hashed feature stream (the
    classifier's md5 bucket family, 512 buckets), Laplace-smoothed
    log-likelihood ratios vs the lang='en' AND doc_id%5=0 target, same
    md5-uniform Gumbel keys, same 4-dp-rounded Gumbel-top-50 selection
    with doc_id tie-break."""
    return """
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '[A-Za-z0-9_'']+') AS t
            FROM documents
        ), feats AS (
            SELECT doc_id,
                   (('0x' || substr(md5('dsir-1:' || feat), 1, 8))::BIGINT
                    % 512) AS bucket
            FROM (SELECT doc_id,
                         unnest(t || [t[i] || ' ' || t[i+1]
                                for i in generate_series(1, greatest(len(t) - 1, 0))])
                             AS feat
                  FROM toks)
        ), raw_counts AS (
            SELECT bucket, count(*) AS c_raw FROM feats GROUP BY 1
        ), tgt_counts AS (
            SELECT bucket, count(*) AS c_tgt
            FROM feats JOIN documents USING (doc_id)
            WHERE lang = 'en' AND doc_id % 5 = 0 GROUP BY 1
        ), tots AS (
            SELECT (SELECT sum(c_raw) FROM raw_counts) AS t_raw,
                   (SELECT coalesce(sum(c_tgt), 0) FROM tgt_counts) AS t_tgt
        ), ratio AS (
            SELECT r.bucket,
                   ln((coalesce(tc.c_tgt, 0) + 0.5) / (t.t_tgt + 0.5 * 512))
                 - ln((r.c_raw + 0.5) / (t.t_raw + 0.5 * 512)) AS lr
            FROM raw_counts r LEFT JOIN tgt_counts tc USING (bucket), tots t
        ), w AS (
            SELECT f.doc_id, count(*) AS n_feats, avg(rt.lr) AS w_raw
            FROM feats f JOIN ratio rt USING (bucket) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(w.n_feats, 0) AS BIGINT) AS n_feats,
               round(coalesce(w.w_raw, 0), 4) AS log_weight,
               round(coalesce(w.w_raw, 0)
                     - ln(-ln(((('0x' || substr(md5('dsir-1:g:' || d.doc_id),
                                                1, 8))::BIGINT % 1000000)
                               + 0.5) / 1000000.0)), 4) AS sample_key
        FROM documents d LEFT JOIN w USING (doc_id)
        ORDER BY sample_key DESC, doc_id
        LIMIT 50
    """


def _dedup_increment_oracle() -> str:
    """DuckDB twin of q_dedup_increment: same batch split + plants, the
    committed fingerprint set, the minhash pair oracle over the union,
    cross (new x committed) pairs only, first-matching-status CASE."""
    return f"""
        WITH old AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 250
        ), newb AS (
            SELECT doc_id, text FROM documents WHERE doc_id >= 250
            UNION ALL
            SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 5
            UNION ALL
            SELECT doc_id + 3000000, text || ' tailmarker'
            FROM documents WHERE doc_id % 10 = 0 AND doc_id < 40
        ), allb AS (
            SELECT * FROM old UNION ALL SELECT * FROM newb
        ), cfp AS (
            SELECT DISTINCT md5({_CANON}) AS fp FROM old
        ), exact AS (
            SELECT doc_id FROM (SELECT doc_id, md5({_CANON}) AS fp FROM newb)
            WHERE fp IN (SELECT fp FROM cfp)
        ), pairs AS ({_minhash_oracle(src="allb")}),
        near AS (
            SELECT id_a AS doc_id FROM pairs
            WHERE id_a IN (SELECT doc_id FROM newb)
              AND id_b IN (SELECT doc_id FROM old)
            UNION
            SELECT id_b FROM pairs
            WHERE id_b IN (SELECT doc_id FROM newb)
              AND id_a IN (SELECT doc_id FROM old)
        )
        SELECT n.doc_id,
               CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_seen'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_seen'
                    ELSE 'new' END AS status
        FROM newb n
        LEFT JOIN (SELECT DISTINCT doc_id FROM exact) ex ON n.doc_id = ex.doc_id
        LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """


def _clean_corpus_oracle() -> str:
    """DuckDB twin of q_clean_corpus: the quality oracle selects the kept
    set, exact dedup keeps min doc_id per canonical md5, the minhash pair
    oracle runs over the post-exact-dedup relation, the recursive CTE
    labels components, and the final CASE reports the first removing
    stage per document."""
    return f"""
        WITH RECURSIVE q AS ({_quality_filter_oracle()}),
        qk AS (
            SELECT d.doc_id, d.text FROM documents d
            JOIN q ON d.doc_id = q.doc_id WHERE q.kept
        ),
        fpt AS (SELECT doc_id, md5({_CANON}) AS fp FROM qk),
        ek AS (SELECT min(doc_id) AS doc_id FROM fpt GROUP BY fp),
        ed AS (SELECT qk.doc_id, qk.text FROM qk JOIN ek USING (doc_id)),
        pairs AS ({_minhash_oracle(src="ed")}),
        cc_e AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, lbl) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM cc_e) t(u)
            UNION
            SELECT cc_e.u, r.lbl FROM cc_e JOIN reach r ON cc_e.v = r.u
        ),
        comp AS (SELECT u AS id, min(lbl) AS component FROM reach GROUP BY u),
        nk AS (
            SELECT ed.doc_id FROM ed LEFT JOIN comp ON ed.doc_id = comp.id
            WHERE coalesce(comp.component, ed.doc_id) = ed.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN qk2.doc_id IS NULL THEN 'quality'
                    WHEN ek2.doc_id IS NULL THEN 'exact_dup'
                    WHEN nk2.doc_id IS NULL THEN 'near_dup'
                    ELSE 'kept' END AS stage
        FROM documents d
        LEFT JOIN (SELECT doc_id FROM qk) qk2 ON d.doc_id = qk2.doc_id
        LEFT JOIN ek ek2 ON d.doc_id = ek2.doc_id
        LEFT JOIN nk nk2 ON d.doc_id = nk2.doc_id
    """


def _corpus_report_oracle() -> str:
    """DuckDB twin of q_corpus_report: the member oracles as CTE
    subqueries joined on doc_id, grouped by disposition stage."""
    return f"""
        WITH cc AS ({_clean_corpus_oracle()}),
        qr AS ({_quality_filter_oracle()}),
        lmr AS ({_lm_score_oracle()})
        SELECT cc.stage, count(*) AS n_docs,
               round(avg(qr.n_words), 2) AS avg_words,
               round(avg(lmr.lm_logprob), 4) AS avg_lm_logprob
        FROM cc JOIN qr ON cc.doc_id = qr.doc_id
                JOIN lmr ON cc.doc_id = lmr.doc_id
        GROUP BY cc.stage
    """


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for the driver registry (queries())."""
    return {k: v for k, v in _oracle_sql_all().items() if REGISTRY[k][1] is None}


def extra_oracle_sql() -> dict[str, str]:
    """DuckDB twins for extra_queries() — pytest-checked, outside the
    driver's 50-entry correctness window."""
    return {k: v for k, v in _oracle_sql_all().items() if REGISTRY[k][1] is not None}


def _pub_date_oracle() -> str:
    """DuckDB twin of q_pub_date — deliberately NOT a regex replay: it
    computes the planted ground truth straight from doc_id arithmetic
    (presence flags, precedence, the month-13 invalidity fall-through), so
    the engine's regex+try_to_date layer is tested against construction
    truth rather than against a second regex."""
    return """
        WITH d AS (
            SELECT doc_id,
                   (2020 + doc_id % 5) || '-'
                     || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || '-'
                     || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS meta_date,
                   (2015 + doc_id % 7) || '-'
                     || lpad(CAST(1 + (doc_id + 3) % 12 AS VARCHAR), 2, '0') || '-'
                     || lpad(CAST(1 + (doc_id + 5) % 28 AS VARCHAR), 2, '0') AS time_date,
                   (2000 + doc_id % 20) AS uy,
                   lpad(CAST(1 + (doc_id + 5) % 12 AS VARCHAR), 2, '0') AS um,
                   lpad(CAST(1 + (doc_id + 7) % 28 AS VARCHAR), 2, '0') AS ud,
                   (doc_id % 4 = 0 OR doc_id % 12 = 1) AS has_meta,
                   (doc_id % 24 = 0) AS meta_invalid,
                   (doc_id % 4 = 1 OR doc_id % 12 = 2 OR doc_id % 24 = 0) AS has_time,
                   (doc_id % 4 = 2) AS has_url
            FROM documents
        )
        SELECT 'https://h' || (doc_id % 23) || '.example.org'
                 || CASE WHEN has_url THEN '/' || uy || '/' || um || '/' || ud
                         ELSE '' END
                 || '/p/' || doc_id AS url,
               CASE WHEN has_meta AND NOT meta_invalid THEN meta_date
                    WHEN has_time THEN time_date
                    WHEN has_url THEN uy || '-' || um || '-' || ud
               END AS pub_date,
               CASE WHEN has_meta AND NOT meta_invalid THEN 'meta'
                    WHEN has_time THEN 'time'
                    WHEN has_url THEN 'url'
               END AS pub_source
        FROM d
    """


def _fix_encoding_oracle() -> str:
    """DuckDB twin of q_fix_encoding: same planted garbled suffixes, then
    the IDENTICAL repair chain generated from MOJIBAKE_MAP by
    sql_fix_mojibake — engine and oracle share the chain's source of truth
    so the 105 replace pairs cannot drift."""
    from ocr_spark.functions.encoding import sql_fix_mojibake

    fixed = sql_fix_mojibake()
    return f"""
        WITH g AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN coalesce(text, '') || ' cafÃ© â€” rÃ©sumÃ© â€¦ Ã¼ber'
                        WHEN doc_id % 3 = 2
                        THEN coalesce(text, '') || ' naÃ¯ve Â© 2024'
                        ELSE coalesce(text, '') END AS raw
            FROM documents
        ), f AS (
            SELECT doc_id, raw, {fixed} AS fixed FROM g
        )
        SELECT doc_id,
               CAST(length(raw) - length(fixed) AS BIGINT) AS mojibake_score,
               (length(raw) > length(fixed)) AS was_garbled,
               md5(trim(regexp_replace(lower(fixed), '[ \t\n]+', ' ', 'g')))
                   AS fixed_fp
        FROM f
    """


def _sentences_oracle() -> str:
    """DuckDB twin of q_sentences: same terminator plant (RE2 regexp_replace
    with the per-doc terminator), same SENTENCE_PATTERN split, trim+filter,
    and an unnest(range) index replay of posexplode."""
    from ocr_spark.functions.text import SENTENCE_PATTERN

    return rf"""
        WITH p AS (
            SELECT doc_id,
                   regexp_replace(coalesce(text, ''),
                       '((?:\w+ ){{4}}\w+) ',
                       '\1' || CASE WHEN doc_id % 3 = 0 THEN '.'
                                    WHEN doc_id % 3 = 1 THEN '!'
                                    ELSE '?' END || ' ',
                       'g') AS t
            FROM documents
        ), a AS (
            SELECT doc_id,
                   [trim(x) for x in regexp_extract_all(t, '{SENTENCE_PATTERN}')
                    if trim(x) <> ''] AS arr
            FROM p
        )
        SELECT doc_id,
               CAST(pos AS BIGINT) AS sent_idx,
               arr[pos + 1] AS sentence,
               CAST(len(string_split(arr[pos + 1], ' ')) AS BIGINT) AS n_words
        FROM a, unnest(range(0, len(arr))) AS u(pos)
    """


def _snapshot_diff_oracle() -> str:
    """DuckDB twin of q_snapshot_diff: same snapshot predicates and edit
    plant, canonical-md5 fingerprints, full outer join, fp-null status."""
    canon_of = (
        "md5(trim(regexp_replace(lower({t}), '[ \t\n]+', ' ', 'g')))"
    )
    old_fp = canon_of.format(t="coalesce(text, '')")
    new_fp = canon_of.format(
        t="CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '') || ' v2 edit' "
          "ELSE coalesce(text, '') END"
    )
    return f"""
        WITH old AS (
            SELECT doc_id, {old_fp} AS old_fp
            FROM documents WHERE doc_id % 7 <> 1
        ), new AS (
            SELECT doc_id, {new_fp} AS new_fp
            FROM documents WHERE doc_id % 11 <> 3
        )
        SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
               CASE WHEN old_fp IS NULL THEN 'added'
                    WHEN new_fp IS NULL THEN 'removed'
                    WHEN old_fp = new_fp THEN 'unchanged'
                    ELSE 'changed' END AS status,
               old_fp, new_fp
        FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """


def _sq_topk_oracle() -> str:
    """DuckDB twin of q_sq_topk: per-dim (min, scale) bounds over the
    unnested corpus, the same clamp(round((v-mn)/sc)) int8 code, the
    asymmetric reconstruction dot against the vec_id=0 query, top-10 by
    the 4dp-rounded quantized score, then the exact-cosine rescore join."""
    return """
        WITH flat AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS ord,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ), bounds AS (
            SELECT ord, min(val) AS mn, (max(val) - min(val)) / 255.0 AS sc
            FROM flat GROUP BY ord
        ), qf AS (
            SELECT ord, val AS qval FROM flat WHERE vec_id = 0
        ), scored AS (
            SELECT f.vec_id,
                   round(sum(q.qval * (b.mn
                       + (CASE WHEN b.sc > 0
                          THEN least(255.0, greatest(0.0,
                                     round((f.val - b.mn) / b.sc, 0)))
                          ELSE 0.0 END) * b.sc)), 4) AS score_sq
            FROM flat f
            JOIN bounds b USING (ord)
            JOIN qf q USING (ord)
            GROUP BY f.vec_id
        ), topk AS (
            SELECT vec_id, score_sq FROM scored
            ORDER BY score_sq DESC, vec_id ASC LIMIT 10
        ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0
        )
        SELECT t.vec_id, t.score_sq,
               round(
                 list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cosine_exact
        FROM topk t JOIN embeddings e USING (vec_id), q
        ORDER BY t.score_sq DESC, t.vec_id ASC
    """


def _mix_temperature_oracle() -> str:
    """DuckDB twin of q_mix_temperature: same token regex, pow(n, 0.3)
    weights, 6dp shares, 4dp boost."""
    return f"""
        WITH per AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt,
                   sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS tw
            FROM per
        )
        SELECT lang, n_docs, n_tokens,
               round(n_tokens / tt, 6) AS raw_share,
               round(pow(CAST(n_tokens AS DOUBLE), 0.3) / tw, 6) AS temp_share,
               round((pow(CAST(n_tokens AS DOUBLE), 0.3) / tw)
                     / (n_tokens / tt), 4) AS boost
        FROM per, tot ORDER BY lang
    """


def _ip_range_join_oracle() -> str:
    """DuckDB twin of q_ip_range_join: the ranges come from the SAME
    network_ranges() literal the Spark side builds its frame from (no
    drift possible), the IP derivation is identical BIGINT arithmetic,
    and the join is the plain BETWEEN formulation — the oracle states the
    interval-join SEMANTICS; the Spark plan proves the prefix-bucketed
    equi-join computes the same relation."""
    from ocr_spark.operators.iprange import IP_HASH_A, IP_SPACE, network_ranges

    vals = ", ".join(f"({lo}, {hi}, '{r}')" for lo, hi, r in network_ranges())
    return f"""
        WITH ev AS (
            SELECT user_id, (user_id * {IP_HASH_A}) % {IP_SPACE} AS ip
            FROM events
        ), r(lo, hi, region) AS (VALUES {vals}),
        routed AS (
            SELECT ev.user_id, ev.ip, r.region
            FROM ev LEFT JOIN r ON ev.ip BETWEEN r.lo AND r.hi
        )
        SELECT coalesce(region, 'unrouted') AS region,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(min(ip) AS BIGINT) AS min_ip,
               CAST(max(ip) AS BIGINT) AS max_ip
        FROM routed GROUP BY 1 ORDER BY 1
    """


def _oracle_sql_all() -> dict[str, str]:
    from ocr_spark.operators.links import TRUST_SEEDS

    d = {
        "minhash_pairs": _minhash_oracle(),
        "dup_spans": _dup_spans_oracle(),
        "dup_span_removal": _dup_span_removal_oracle(),
        "lsh_recall": _lsh_recall_oracle(f"""(
            SELECT doc_id, text FROM documents WHERE doc_id < 1000
            UNION ALL
            SELECT doc_id + 500000 AS doc_id,
                   array_to_string(
                       [CASE WHEN (i - 1) % (4 + (doc_id % 8) * 6) = 0
                             THEN 'mutx' || (doc_id + 500000) || 'x' || (i - 1)
                             ELSE w[i] END
                        for i in generate_series(1, len(w))], ' ') AS text
            FROM (SELECT doc_id, string_split({_CANON}, ' ') AS w
                  FROM documents WHERE doc_id < 40) v)"""),
        "inverted_index": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(coalesce(text, '')),
                                                 '{{tok}}')) AS term
                FROM documents
            ), tf AS (
                SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
            )
            SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
                   string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
            FROM tf GROUP BY term
            HAVING count(*) >= 2
               AND count(*) <= CAST(floor(0.9 * (SELECT count(*)
                                                 FROM documents)) AS BIGINT)
        """.replace("{tok}", _TOKEN_SQL),
        "merge_table": """
            WITH src AS (
                SELECT doc_id, 'rev2: ' || coalesce(text, '') AS text, lang,
                       'merge' AS source,
                       length('rev2: ' || coalesce(text, '')) AS n_chars
                FROM documents WHERE doc_id % 10 = 3
                UNION ALL
                SELECT doc_id + 100000, 'new doc ' || (doc_id + 100000), lang,
                       'merge', length('new doc ' || (doc_id + 100000))
                FROM documents WHERE doc_id % 25 = 0
            )
            SELECT doc_id, text, lang, source, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM src)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM src
        """,
        "dedup_clusters": _dedup_clusters_oracle(),
        "cluster_reps": _cluster_reps_oracle(),
        "clean_corpus": _clean_corpus_oracle(),
        "corpus_report": _corpus_report_oracle(),
        "dedup_increment": _dedup_increment_oracle(),
        "line_dedup": _line_dedup_oracle(),
        "host_boilerplate": _host_line_dedup_oracle(),
        "paragraph_dedup": _paragraph_dedup_oracle(),
        "common_ngrams": _common_ngrams_oracle(),
        "dsir_sample": _dsir_oracle(),
        "blockwords": f"""
            WITH planted AS (
                SELECT doc_id,
                       text ||
                       CASE WHEN doc_id % 7 = 0 THEN ' xbadwordx.' ELSE '' END ||
                       CASE WHEN doc_id % 11 = 0
                            THEN ' XBannedX xforbiddenx' ELSE '' END AS text
                FROM documents
            ), toks AS (
                SELECT doc_id,
                       list_distinct(regexp_extract_all(
                           lower(coalesce(text, '')), '{_TOKEN_SQL}')) AS t
                FROM planted
            )
            SELECT doc_id,
                   CAST(len(list_filter(t, x -> x IN
                        ('xbadwordx', 'xbannedx', 'xforbiddenx'))) AS BIGINT)
                       AS n_blockwords,
                   len(list_filter(t, x -> x IN
                        ('xbadwordx', 'xbannedx', 'xforbiddenx'))) = 0 AS kept
            FROM toks
        """,
        "host_cap": _host_cap_oracle(),
        "robots_filter": _robots_filter_oracle(),
        "shard_assignment": """
            WITH k AS (
                SELECT doc_id,
                       ('0x' || substr(md5('shard-seed-1:' || doc_id), 1, 8))::BIGINT
                           AS key
                FROM documents
            )
            SELECT doc_id, CAST(key % 16 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY key % 16
                                           ORDER BY key, doc_id) - 1 AS INT) AS pos
            FROM k
        """,
        # shard_manifest: the same seeded assignment, then the ordered
        # digest as string_agg(fp, '' ORDER BY pos) — replaying the
        # array_sort((pos, fp)) fold exactly
        "shard_manifest": """
            WITH k AS (
                SELECT doc_id,
                       ('0x' || substr(md5('shard-seed-1:' || doc_id), 1, 8))::BIGINT
                           AS key
                FROM documents
            ), asg AS (
                SELECT doc_id, CAST(key % 16 AS INT) AS shard,
                       row_number() OVER (PARTITION BY key % 16
                                          ORDER BY key, doc_id) - 1 AS pos
                FROM k
            ), j AS (
                SELECT a.shard, a.pos,
                       md5(coalesce(d.text, '')) AS fp,
                       strlen(coalesce(d.text, '')) AS nb
                FROM asg a JOIN documents d USING (doc_id)
            )
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nb) AS BIGINT) AS n_bytes,
                   md5(string_agg(fp, '' ORDER BY pos)) AS content_fp
            FROM j GROUP BY shard ORDER BY shard
        """,
        "quality_filter": _quality_filter_oracle(),
        "token_budget_mix": _token_budget_mix_oracle(),
        "host_quality": _host_quality_oracle(),
        "host_quality_eb": _host_quality_eb_oracle(),
        "bloom_gate": _bloom_gate_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "cluster_sample": _cluster_sample_oracle(),
        "ivf_assign": _ivf_assign_oracle(),
        "decontam_spans": _decontam_spans_oracle(),
        "script_stats": _script_stats_oracle(),
        "vocab_growth": _vocab_growth_oracle(),
        "code_detect": _code_detect_oracle(),
        "bpe_tokens": _bpe_tokens_oracle(),
        "token_fertility": _token_fertility_oracle(),
        "heavy_hitters": _heavy_hitters_oracle(),
        "signals": _signals_oracle(),
        "bm25": _bm25_oracle(),
        "train_eval_split": _train_eval_split_oracle(),
        "within_doc_dedup": _within_doc_dedup_oracle(),
        "latest_capture": _latest_capture_oracle(),
        "quality_classifier": _quality_classifier_oracle(),
        "perplexity_buckets": _perplexity_buckets_oracle(),
        "soft_sample": _soft_sample_oracle(),
        "blocklist": _blocklist_oracle(),
        "cdx_fetch_plan": _cdx_fetch_plan_oracle(),
        "page_meta": """
            SELECT 'https://docs.example.com/' || doc_id AS url,
                   'doc ' || doc_id || ' & notes' AS title,
                   'Summary of document ' || doc_id || ' (' || lang || ')'
                       AS meta_description,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE 'Doc ' || doc_id END AS og_title,
                   'https://docs.example.com/' || doc_id || '?utm_source=feed'
                       AS canonical_href,
                   (doc_id % 7 = 0) AS robots_noindex,
                   (doc_id % 7 = 0 OR doc_id % 5 = 0) AS robots_nofollow,
                   lang AS html_lang
            FROM documents
        """,
        "pub_date": _pub_date_oracle(),
        "fix_encoding": _fix_encoding_oracle(),
        "sentences": _sentences_oracle(),
        "snapshot_diff": _snapshot_diff_oracle(),
        # construction-truth twin of q_sitemap_recrawl: the expected plan
        # computed from the doc_id arithmetic, never by re-parsing the XML
        # (same principle as _pub_date_oracle)
        "sitemap_recrawl": """
            WITH d AS (
                SELECT doc_id,
                       'https://h' || (doc_id % 23) || '.example.org/p/'
                         || doc_id AS url,
                       DATE '2024-01-01'
                         + CAST((doc_id * 13) % 365 AS INTEGER) AS lastmod,
                       (doc_id % 10) / 10.0 AS priority,
                       (doc_id % 3 <> 0) AS captured,
                       DATE '2024-01-01'
                         + CAST((doc_id * 7) % 365 AS INTEGER) AS cap_date
                FROM documents
                WHERE doc_id % 17 <> 0  -- malformed blocks never plan
            )
            SELECT url, strftime(lastmod, '%Y-%m-%d') AS lastmod, priority,
                   CASE WHEN NOT captured THEN 'new' ELSE 'stale' END AS reason
            FROM d
            WHERE NOT captured OR lastmod > cap_date
        """,
        "spam_hosts": _spam_hosts_oracle(),
        # triple-unnest twin of q_html_tables (same plant, same lazy block
        # regexes, same tag-strip + whitespace-collapse cell cleanup)
        "html_tables": """
            WITH h AS (
                SELECT doc_id,
                       '<html><body><h2> Doc ' || doc_id || ' </h2>'
                       || '<table id="t1"><tr><th> Key </th><th>Val</th></tr>'
                       || '<tr><td> <b>lang</b> </td><td>' || lang
                       || '</td></tr><tr><td>mod7</td><td> ' || (doc_id % 7)
                       || ' </td></tr></table>'
                       || CASE WHEN doc_id % 3 = 0
                               THEN '<table class="x"><tr><td>a ' || doc_id
                                    || '</td><td>b' || chr(10)
                                    || ' c</td></tr></table>'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN '<table><tr><td>orphan' ELSE '' END
                       || '<p>tail</p></body></html>' AS html
                FROM documents
            ), t AS (
                SELECT doc_id,
                       regexp_extract_all(html,
                           '(?s)<table[^>]*>(.*?)</table>', 1) AS tbls
                FROM h
            ), tt AS (
                SELECT doc_id, CAST(p AS BIGINT) AS table_idx,
                       tbls[p + 1] AS tbl
                FROM t, unnest(range(0, len(tbls))) AS u(p)
            ), rr AS (
                SELECT doc_id, table_idx, CAST(p AS BIGINT) AS row_idx,
                       trows[p + 1] AS trow
                FROM (SELECT doc_id, table_idx,
                             regexp_extract_all(tbl,
                                 '(?s)<tr[^>]*>(.*?)</tr>', 1) AS trows
                      FROM tt),
                     unnest(range(0, len(trows))) AS u(p)
            ), cc AS (
                SELECT doc_id, table_idx, row_idx,
                       CAST(p AS BIGINT) AS col_idx, cells[p + 1] AS cell_raw
                FROM (SELECT doc_id, table_idx, row_idx,
                             regexp_extract_all(trow,
                                 '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 0) AS cells
                      FROM rr),
                     unnest(range(0, len(cells))) AS u(p)
            )
            SELECT doc_id, table_idx, row_idx, col_idx,
                   trim(regexp_replace(regexp_replace(
                       regexp_extract(cell_raw,
                           '(?s)<t[dh][^>]*>(.*?)</t[dh]>', 1),
                       '<[^>]*>', '', 'g'), '[ \t\n\r]+', ' ', 'g')) AS cell,
                   (cell_raw LIKE '<th%') AS is_header
            FROM cc
        """,
        "headings_outline": """
            WITH h AS (
                SELECT doc_id,
                       '<html><body><h1> Doc ' || doc_id
                       || ' </h1><p>intro</p>'
                       || CASE WHEN doc_id % 2 = 0
                               THEN '<h2 class="s">Sec <em>' || lang
                                    || '</em></h2><p>body</p>'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 1
                               THEN '<h3>Deep ' || (doc_id % 5)
                                    || '</h3><h2>After</h2>'
                               ELSE '' END
                       || CASE WHEN doc_id % 9 = 0
                               THEN '<h6></h6>' ELSE '' END
                       || '</body></html>' AS html
                FROM documents
            ), a AS (
                SELECT doc_id,
                       regexp_extract_all(html,
                           '(?s)<h[1-6][^>]*>.*?</h[1-6]>', 0) AS hs
                FROM h
            ), e AS (
                SELECT doc_id, CAST(p AS BIGINT) AS pos,
                       CAST(regexp_extract(hs[p + 1], '<h([1-6])', 1)
                            AS BIGINT) AS level,
                       trim(regexp_replace(regexp_replace(
                           regexp_extract(hs[p + 1],
                               '(?s)<h[1-6][^>]*>(.*?)</h[1-6]>', 1),
                           '<[^>]*>', '', 'g'),
                           '[ \t\n\r]+', ' ', 'g')) AS heading
                FROM a, unnest(range(0, len(hs))) AS u(p)
            )
            SELECT doc_id, pos, level, heading,
                   CAST(length(heading) AS BIGINT) AS n_chars
            FROM e
        """,
        # html_sections: the SAME assembled pages, split into the n+1
        # between-heading body segments zipped with a NULL-prefixed
        # heading array — replaying extract_sections' construction
        "html_sections": """
            WITH h AS (
                SELECT doc_id,
                       '<html><body><h1> Doc ' || doc_id
                       || ' </h1><p>intro</p>'
                       || CASE WHEN doc_id % 2 = 0
                               THEN '<h2 class="s">Sec <em>' || lang
                                    || '</em></h2><p>body</p>'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 1
                               THEN '<h3>Deep ' || (doc_id % 5)
                                    || '</h3><h2>After</h2>'
                               ELSE '' END
                       || CASE WHEN doc_id % 9 = 0
                               THEN '<h6></h6>' ELSE '' END
                       || '</body></html>' AS html
                FROM documents
            ), a AS (
                SELECT doc_id,
                       regexp_split_to_array(html,
                           '(?s)<h[1-6][^>]*>.*?</h[1-6]>') AS seg,
                       regexp_extract_all(html,
                           '(?s)<h[1-6][^>]*>.*?</h[1-6]>', 0) AS hs
                FROM h
            ), e AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS section_idx,
                       seg[i] AS seg,
                       CASE WHEN i = 1 THEN NULL ELSE hs[i - 1] END AS helem
                FROM a, unnest(generate_series(1, len(seg))) AS u(i)
            ), c AS (
                SELECT doc_id, section_idx,
                       CAST(CASE WHEN helem IS NULL THEN 0
                            ELSE CAST(regexp_extract(helem, '<h([1-6])', 1)
                                      AS BIGINT) END AS BIGINT) AS level,
                       CASE WHEN helem IS NULL THEN NULL
                            ELSE trim(regexp_replace(regexp_replace(
                                regexp_extract(helem,
                                    '(?s)<h[1-6][^>]*>(.*?)</h[1-6]>', 1),
                                '<[^>]*>', '', 'g'),
                                '[ \t\n\r]+', ' ', 'g')) END AS heading,
                       trim(regexp_replace(regexp_replace(seg,
                           '<[^>]*>', '', 'g'),
                           '[ \t\n\r]+', ' ', 'g')) AS text
                FROM e
            )
            SELECT doc_id, section_idx, level, heading, text,
                   CAST(CASE WHEN text = '' THEN 0
                        ELSE len(string_split(text, ' ')) END AS BIGINT)
                       AS n_words
            FROM c
        """,
        # construction-truth twin of q_feed_items: expected typed rows
        # straight from the doc_id arithmetic — the regex + RFC-822/ISO
        # timestamp layer is tested against ground truth, never a second
        # regex (same principle as the sitemap_recrawl twin)
        "feed_items": """
            WITH d AS (
                SELECT doc_id, doc_id % 10 AS hid,
                       TIMESTAMP '2024-02-01 00:00:00'
                         + (doc_id % 97) * INTERVAL 1 HOUR AS ts
                FROM documents
            )
            SELECT 'h' || hid || '.example.net' AS host,
                   CASE WHEN hid % 2 = 0 THEN 'rss' ELSE 'atom' END
                       AS dialect,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE 'https://h' || hid || '.example.net/a/'
                             || doc_id END AS link,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        WHEN hid % 2 = 0 THEN 'T' || doc_id
                        ELSE 'A' || doc_id END AS title,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END
                       AS item_ts_s,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        WHEN hid % 2 = 1
                            THEN 'tag:h' || hid || ',2024:' || doc_id
                        WHEN doc_id % 5 = 0
                            THEN 'https://h' || hid || '.example.net/a/'
                                 || doc_id
                        ELSE 'g-' || doc_id END AS guid,
                   (doc_id % 13 <> 0) AS feed_ok
            FROM d
        """,
        "fetch_schedule": """
            WITH c AS (
                SELECT 'h' || (doc_id % 23) AS host,
                       'https://h' || (doc_id % 23) || '.example.org/p/'
                         || doc_id AS url,
                       CAST((doc_id * 7) % 10 AS BIGINT) AS priority,
                       doc_id % 23 AS hid
                FROM documents
            ), r AS (
                SELECT host, url, priority, hid,
                       CAST(row_number() OVER (
                           PARTITION BY host
                           ORDER BY priority DESC, url ASC) - 1
                           AS BIGINT) AS slot
                FROM c
            )
            SELECT host, url, priority, slot,
                   CAST(slot * (CASE WHEN hid % 4 <> 0
                                     THEN 1.0 + (hid % 5)
                                     ELSE 2.0 END) AS DOUBLE)
                       AS scheduled_at_s
            FROM r WHERE slot < 15
        """,
        # construction-truth twins of q_crawl_delays / q_jsonld: expected
        # output straight from hid/doc_id arithmetic — the group fold and
        # the regex+JsonPath layer are tested against ground truth, never
        # a second fold/regex
        "crawl_delays": """
            WITH h AS (SELECT DISTINCT doc_id % 23 AS hid FROM documents)
            SELECT 'h' || hid || '.example.org' AS host,
                   CASE WHEN hid % 3 = 0
                        THEN CAST(hid % 7 + 1 AS DOUBLE) END AS crawl_delay_s,
                   CAST((CASE WHEN hid % 2 = 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN hid % 4 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sitemaps
            FROM h
        """,
        "jsonld": """
            WITH d AS (SELECT doc_id, doc_id % 5 AS v FROM documents)
            SELECT 'https://h' || (doc_id % 23) || '.example.org/p/'
                     || doc_id AS url,
                   (v <> 0) AS has_jsonld,
                   CASE v WHEN 1 THEN 'NewsArticle' WHEN 2 THEN 'Product'
                          WHEN 3 THEN 'Recipe' END AS jsonld_type,
                   CASE v WHEN 1 THEN 'Story ' || doc_id
                          WHEN 2 THEN 'Widget ' || doc_id
                          WHEN 3 THEN 'Dish ' || doc_id END AS headline,
                   CASE WHEN v = 1
                        THEN '2024-03-'
                             || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                             || 'T10:00:00Z' END AS date_published,
                   CASE v WHEN 1 THEN 'Reporter ' || (doc_id % 7)
                          WHEN 2 THEN 'House ' || (doc_id % 3)
                          WHEN 3 THEN 'Chef ' || (doc_id % 5) END AS author
            FROM d
        """,
        "lm_score": _lm_score_oracle(),
        "lm_crossentropy": _lm_crossentropy_oracle(),
        "rp_project": _rp_project_oracle(),
        "pq_topk": _pq_topk_oracle(),
        "hll_distinct": _hll_distinct_oracle(),
        "bitext_pairs": _bitext_pairs_oracle(),
        "sketch_quantiles": _sketch_quantiles_oracle(),
        "phrase_search": _phrase_search_oracle(),
        "hybrid_search": _hybrid_search_oracle(),
        "search_snippets": _search_snippets_oracle(),
        "expansion_terms": _expansion_terms_oracle(),
        "more_like_this": _more_like_this_oracle(),
        "page_types": _page_types_oracle(),
        "burst_detection": _burst_detection_oracle(),
        "quality_gate": _quality_gate_oracle(),
        "repetition_stats": _repetition_stats_oracle(),
        "pii_redact": _pii_redact_oracle(),
        "warc_roundtrip": """
            SELECT 'warc://docs.example.com/' || doc_id AS url, text,
                   strftime(TIMESTAMP '2026-02-03 04:05:06'
                            + to_seconds(doc_id), '%Y-%m-%d %H:%M:%S') AS ts
            FROM documents
        """,
        # wet_export: the record string rebuilt verbatim — headers, sha256
        # block digest, utf-8 byte length, and the doc_id-derived timestamp
        "wet_export": """
            SELECT 'warc://docs.example.com/' || doc_id AS url,
                   'WARC/1.0' || chr(13) || chr(10)
                   || 'WARC-Type: conversion' || chr(13) || chr(10)
                   || 'WARC-Target-URI: warc://docs.example.com/' || doc_id
                   || chr(13) || chr(10)
                   || 'WARC-Date: '
                   || strftime(TIMESTAMP '2026-02-03 04:05:06'
                               + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ')
                   || chr(13) || chr(10)
                   || 'WARC-Block-Digest: sha256:'
                   || sha256(coalesce(text, ''))
                   || chr(13) || chr(10)
                   || 'Content-Type: text/plain' || chr(13) || chr(10)
                   || 'Content-Length: '
                   || octet_length(encode(coalesce(text, '')))
                   || chr(13) || chr(10) || chr(13) || chr(10)
                   || coalesce(text, '') || chr(13) || chr(10)
                   || chr(13) || chr(10) AS record,
                   CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                       AS content_length
            FROM documents
        """,
        "sq_topk": _sq_topk_oracle(),
        "mix_temperature": _mix_temperature_oracle(),
        "ip_range_join": _ip_range_join_oracle(),
        # markdown_render: the flagship template's markdown arithmetic —
        # '## ' heading prefix, blank-line block separator, same >=25-char
        # body keep rule as the flagship oracle
        "markdown_render": f"""
            SELECT 'https://docs.example.com/' || doc_id AS url,
                   CASE WHEN length({_CANON_RAW}) >= 25
                        THEN '## Document ' || doc_id || chr(10) || chr(10)
                             || {_CANON_RAW}
                        ELSE '## Document ' || doc_id END AS markdown,
                   'ok' AS extract_status,
                   'html' AS content_kind,
                   CAST(CASE WHEN length({_CANON_RAW}) >= 25
                        THEN 2 ELSE 1 END AS INT) AS n_blocks
            FROM documents
        """,
        "url_parts": _url_parts_oracle(),
        "host_stats": _host_stats_oracle(),
        "outlinks": _outlinks_oracle(),
        "host_degree": _host_degree_oracle(),
        "pagerank_hosts": _pagerank_oracle(),
        "trustrank_hosts": _pagerank_oracle(seeds=TRUST_SEEDS),
        "anchor_terms": _anchor_terms_oracle(),
        "canonical_groups": _canonical_groups_oracle(),
        "embedding_neardup": _embedding_neardup_oracle(),
        "simhash": _simhash_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "winnow_pairs": _winnow_pairs_oracle(),
        "extract_spans": f"""
            WITH pre AS (
                SELECT doc_id, lang, text,
                       length('<html lang="' || lang || '"><head><title>doc '
                              || doc_id || '</title></head><body>'
                              || '<nav class="menu"><a href="/a">home</a> '
                              || '<a href="/b">about</a></nav>'
                              || '<article><h2>') AS h2_start,
                       'Document ' || doc_id AS h2_text
                FROM documents
            )
            SELECT 'https://docs.example.com/' || doc_id AS url,
                   CAST(0 AS INT) AS block_idx,
                   CAST(h2_start AS INT) AS span_start,
                   CAST(h2_start + length(h2_text) AS INT) AS span_end,
                   h2_text AS block_text, true AS heading
            FROM pre
            UNION ALL
            SELECT 'https://docs.example.com/' || doc_id AS url,
                   CAST(1 AS INT) AS block_idx,
                   CAST(h2_start + length(h2_text) + 8 AS INT) AS span_start,
                   CAST(h2_start + length(h2_text) + 8 + length(text) AS INT)
                       AS span_end,
                   {_CANON_RAW} AS block_text, false AS heading
            FROM pre
            WHERE length({_CANON_RAW}) >= 25
        """,
        "flagship_extract": f"""
            SELECT 'https://docs.example.com/' || doc_id AS url,
                   CASE WHEN length({_CANON_RAW}) >= 25
                        THEN 'Document ' || doc_id || chr(10) || {_CANON_RAW}
                        ELSE 'Document ' || doc_id END AS text,
                   'ok' AS extract_status,
                   'html' AS content_kind,
                   CAST(CASE WHEN length({_CANON_RAW}) >= 25 THEN 2 ELSE 1 END AS INT) AS n_blocks
            FROM documents
        """,
        "exact_dedup": f"""
            SELECT md5({_CANON}) AS fp, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({_TOKENS}) AS n_tokens,
                   {_WS_TOKENS} AS n_ws_tokens,
                   round({_PUNCT_RATIO}, 4) AS punct_ratio,
                   round({_STOP_RATIO}, 4) AS stopword_ratio,
                   {_QUALITY} AS quality
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id, {_LANG_PRED} AS lang_pred,
                   ({_LANG_PRED} = lang) AS agrees
            FROM documents
        """,
        "fingerprint": f"""
            SELECT doc_id, md5({_CANON}) AS fp FROM documents
        """,
        "token_jaccard": f"""
            WITH toks AS (
                SELECT doc_id AS id, unnest(list_distinct(string_split({_CANON}, ' '))) AS tok
                FROM documents
            ), toks2 AS (SELECT * FROM toks WHERE tok <> ''),
            sizes AS (SELECT id, count(*) AS n_tok FROM toks2 GROUP BY id),
            shared AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
                FROM toks2 a JOIN toks2 b ON a.tok = b.tok AND a.id < b.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_shared * 1.0 / (sa.n_tok + sb.n_tok - n_shared), 4) AS jaccard
            FROM shared
            JOIN sizes sa ON id_a = sa.id
            JOIN sizes sb ON id_b = sb.id
            WHERE round(n_shared * 1.0 / (sa.n_tok + sb.n_tok - n_shared), 4) >= 0.8
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 20
        """,
        "validate_docs": """
            WITH v AS (
                SELECT *,
                    (text IS NOT NULL AND length(text) > 0) AS c1,
                    (n_chars IS NOT NULL AND n_chars BETWEEN 1 AND 100000) AS c2,
                    (n_chars = length(text)) AS c3,
                    (lang IN ('en','zh','de','fr','es','ja')) AS c4
                FROM documents
            ), w AS (
                SELECT *,
                    round((CAST(COALESCE(c1,false) AS INT) + CAST(COALESCE(c2,false) AS INT)
                         + CAST(COALESCE(c3,false) AS INT) + CAST(COALESCE(c4,false) AS INT)) / 4.0, 4)
                      AS completeness,
                    CASE WHEN NOT COALESCE(c1,false) THEN 'error'
                         WHEN NOT COALESCE(c2,false) OR NOT COALESCE(c3,false)
                              OR NOT COALESCE(c4,false) THEN 'warn'
                         ELSE 'ok' END AS status
                FROM v
            )
            SELECT status, count(*) AS n_rows,
                   round(avg(completeness), 4) AS avg_completeness
            FROM w GROUP BY status ORDER BY status
        """,
        "doc_assessment": """
            WITH v AS (
                SELECT doc_id, n_chars, text, lang,
                    (text IS NOT NULL AND length(text) > 0) AS c1,
                    (n_chars IS NOT NULL AND n_chars BETWEEN 1 AND 100000) AS c2,
                    (n_chars = length(text)) AS c3,
                    (lang IN ('en','zh','de','fr','es','ja')) AS c4
                FROM documents
            ), w AS (
                SELECT doc_id, lang,
                    COALESCE(n_chars, -1) AS n,
                    length(COALESCE(text, '')) AS ln,
                    round((CAST(COALESCE(c1,false) AS INT) + CAST(COALESCE(c2,false) AS INT)
                         + CAST(COALESCE(c3,false) AS INT) + CAST(COALESCE(c4,false) AS INT)) / 4.0, 4)
                      AS completeness
                FROM v
            ), g AS (
                -- V7 group-conditioned band: per-lang expected n_chars band
                SELECT *,
                   CASE WHEN lang = 'zh' THEN 'zh'
                        WHEN lang = 'en' THEN 'en'
                        ELSE 'default' END AS lang_band,
                   CASE WHEN lang = 'zh' THEN n BETWEEN 60 AND 450
                        WHEN lang = 'en' THEN n BETWEEN 100 AND 600
                        ELSE n BETWEEN 1 AND 100000 END AS chk_lang_band,
                   CASE WHEN completeness >= 1.0 THEN 'excellent'
                        WHEN completeness >= 0.75 THEN 'good'
                        WHEN completeness >= 0.5 THEN 'fair'
                        ELSE 'poor' END AS base_assessment
                FROM w
            )
            SELECT doc_id,
                   CASE WHEN n >= 1 AND n < 20 THEN 'tiny'
                        WHEN n >= 20 AND n < 100 THEN 'short'
                        WHEN n >= 100 AND n < 2000 THEN 'normal'
                        WHEN n >= 2000 AND n < 100001 THEN 'long'
                        ELSE 'out_of_range' END AS length_band,
                   least(n, ln) AS len_est,
                   least(n, ln) >= 1 AS chk_min_estimate,
                   round(abs(n - ln) * 1.0 / greatest(n, ln, 1), 4) AS sym_ratio,
                   round(abs(n - ln) * 1.0 / greatest(n, ln, 1), 4) <= 0.05 AS chk_symmetry,
                   lang_band, chk_lang_band,
                   completeness,
                   CASE WHEN NOT chk_lang_band AND base_assessment = 'excellent'
                        THEN 'good' ELSE base_assessment END AS assessment
            FROM g
        """,
        "corr_flags": f"""
            WITH c AS (
                SELECT round(corr(n_chars, length(COALESCE(text, ''))), 4) AS n_chars_vs_len,
                       round(corr(length(COALESCE(text, '')), {_WS_TOKENS}), 4) AS len_vs_ws_tokens,
                       round(corr({_STOP_RATIO}, length(COALESCE(text, ''))), 4) AS stopword_vs_len
                FROM documents
            )
            SELECT pair, corr, COALESCE(corr < 0.7, true) AS flagged FROM (
                SELECT 'n_chars_vs_len' AS pair, n_chars_vs_len AS corr FROM c
                UNION ALL SELECT 'len_vs_ws_tokens', len_vs_ws_tokens FROM c
                UNION ALL SELECT 'stopword_vs_len', stopword_vs_len FROM c
            ) ORDER BY pair
        """,
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 10
        """,
        "lang_distribution": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "events_hourly": """
            SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "resume_antijoin": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
        """,
        "top_events_per_user": """
            SELECT user_id, event_id, round(value, 2) AS value, rank, mavg_value
            FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id ASC) AS rank,
                       round(avg(value) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                         AS mavg_value
                FROM events
            ) WHERE rank <= 2
        """,
        "sessionize": """
            WITH lagged AS (
                SELECT user_id, ts,
                       epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                         AS gap
                FROM events
            ), flagged AS (
                SELECT user_id,
                       CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS brk
                FROM lagged
            )
            SELECT user_id,
                   CAST(sum(brk) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
        "pivot_events": """
            SELECT user_id,
                   round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
                   round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error,
                   round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
                   round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
                   round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view
            FROM events GROUP BY user_id
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id || ':sample'), 1, 8))::BIGINT % 10000 <
                  CASE WHEN lang = 'en' THEN 5000
                       WHEN lang = 'zh' THEN 2500
                       ELSE 1000 END
        """,
        "contamination": f"""
            WITH bench AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
            ), corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
                UNION ALL
                SELECT doc_id + 1000000, text FROM bench
            ), bt AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS toks FROM bench
            ), bg0 AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 8 THEN []::VARCHAR[]
                            ELSE [array_to_string(list_slice(toks, i, i + 7), ' ')
                                  for i in generate_series(1, len(toks) - 7)] END AS grams
                FROM bt
            ), bg AS (
                SELECT DISTINCT doc_id AS bench_id,
                       ('0x' || substr(md5(gr), 1, 8))::BIGINT AS g
                FROM (SELECT doc_id, unnest(grams) AS gr FROM bg0)
            ), rare AS (
                SELECT g FROM bg GROUP BY g HAVING count(*) <= 64
            ), bkeep AS (
                SELECT bg.bench_id, bg.g FROM bg JOIN rare USING (g)
            ), ct AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS toks FROM corpus
            ), cg0 AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 8 THEN []::VARCHAR[]
                            ELSE [array_to_string(list_slice(toks, i, i + 7), ' ')
                                  for i in generate_series(1, len(toks) - 7)] END AS grams
                FROM ct
            ), cg AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(gr), 1, 8))::BIGINT AS g
                FROM (SELECT doc_id, unnest(grams) AS gr FROM cg0)
            )
            SELECT cg.doc_id,
                   count(DISTINCT cg.g) AS n_matched_grams,
                   count(DISTINCT bkeep.bench_id) AS n_bench_docs
            FROM cg JOIN bkeep ON cg.g = bkeep.g
            GROUP BY cg.doc_id
        """,
        "tfidf_terms": f"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKEN_SQL}')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), n AS (
                SELECT count(*) AS n FROM documents
            ), scored AS (
                SELECT doc_id, term,
                       round(tf * ln((n + 1.0) / (df + 1.0)), 4) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tfidf, rank FROM (
                SELECT doc_id, term, tfidf,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term ASC) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
        "knn": """
            WITH q AS (
                SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.q_id, e.vec_id,
                       list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS cos
                FROM embeddings e, q
            )
            SELECT q_id, vec_id, round(cos, 4) AS cosine, rank FROM (
                SELECT q_id, vec_id, cos,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "pdf_extract": f"""
            SELECT 'pdf://docs.example.com/' || doc_id AS url,
                   CASE WHEN length({_CANON_RAW}) = 0 THEN '' ELSE {_CANON_RAW} END AS text,
                   CASE WHEN length({_CANON_RAW}) = 0 THEN 'empty' ELSE 'ok' END AS extract_status,
                   'pdf' AS content_kind,
                   CAST(CASE WHEN length({_CANON_RAW}) = 0 THEN 0 ELSE 1 END AS INT) AS n_blocks
            FROM documents
        """,
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0b]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ), n AS (
                SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0
            ), c AS (
                SELECT doc_id, n,
                       unnest(generate_series(0, CAST(ceil(n / 50.0) AS BIGINT) - 1)) AS ci
                FROM n
            ), ch AS (
                SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                       CAST(least(60, n - ci * 50) AS BIGINT) AS n_tokens
                FROM c
            )
            SELECT doc_id, chunk_idx, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / 256.0) AS BIGINT) AS seq_id
            FROM ch
        """,
        "chunk_documents": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0b]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ), n AS (
                SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
            ), c AS (
                SELECT doc_id, toks, n,
                       unnest(generate_series(0, CAST(ceil(n / 50.0) AS BIGINT) - 1)) AS ci
                FROM n
            )
            SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                   array_to_string(list_slice(toks, ci * 50 + 1, least(ci * 50 + 60, n)), ' ')
                       AS chunk_text,
                   CAST(least(60, n - ci * 50) AS INT) AS n_tokens
            FROM c
        """,
        "group_quantiles": """
            SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS q50,
                   round(quantile_cont(n_chars, 0.9), 4) AS q90
            FROM documents GROUP BY lang
        """,
        "grouping_sets": """
            WITH e AS (SELECT event_type, user_id % 2 AS user_bucket, value
                       FROM events)
            SELECT event_type, user_bucket,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(grouping(event_type) AS INT) AS g_type,
                   CAST(grouping(user_bucket) AS INT) AS g_bucket
            FROM e
            GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
            ORDER BY g_type, g_bucket, event_type, user_bucket
        """,
        "rollup_events": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(GROUPING(event_type) AS INT) AS is_total
            FROM events GROUP BY ROLLUP(event_type)
            ORDER BY is_total ASC, event_type ASC NULLS LAST
        """,
        "moving_avg": """
            SELECT user_id, event_id,
                   round(avg(value) OVER w, 4) AS mavg_value,
                   round(sum(value) OVER w, 4) AS msum_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        "set_ops": """
            SELECT doc_id, 'en_and_long' AS op FROM (
                SELECT doc_id FROM documents WHERE lang = 'en'
                INTERSECT
                SELECT doc_id FROM documents WHERE n_chars > 300)
            UNION ALL
            SELECT doc_id, 'en_not_long' AS op FROM (
                SELECT doc_id FROM documents WHERE lang = 'en'
                EXCEPT
                SELECT doc_id FROM documents WHERE n_chars > 300)
        """,
        # ivf_topk: seeds = first 16 vectors, ONE Lloyd refinement iteration
        # (assign to seeds -> per-cell element-wise mean rounded to 6 dp),
        # then assignment / nprobe / re-rank against the refined centroids —
        # the exact replay of ivf_centroids.
        "ivf_topk": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ), seeds AS (
                SELECT vec_id AS cent_id, e AS cv FROM corpus WHERE vec_id < 16
            ), q AS (
                SELECT e AS qv FROM corpus WHERE vec_id = 0
            ), assign0 AS (
                SELECT vec_id, cent_id FROM (
                    SELECT c.vec_id, s.cent_id,
                           row_number() OVER (PARTITION BY c.vec_id ORDER BY
                             list_dot_product(c.e, s.cv)
                             / (sqrt(list_dot_product(c.e, c.e))
                                * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                             s.cent_id ASC) AS rn
                    FROM corpus c, seeds s
                ) WHERE rn = 1
            ), dims AS (
                SELECT vec_id, i AS pos, e[i] AS x
                FROM corpus, unnest(generate_series(1, len(e))) AS t(i)
            ), refined AS (
                SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
                    SELECT a.cent_id, d.pos, round(avg(d.x), 6) AS m
                    FROM assign0 a JOIN dims d ON a.vec_id = d.vec_id
                    GROUP BY a.cent_id, d.pos
                ) GROUP BY cent_id
            ), assign AS (
                SELECT vec_id, cent_id FROM (
                    SELECT c.vec_id, r.cent_id,
                           row_number() OVER (PARTITION BY c.vec_id ORDER BY
                             list_dot_product(c.e, r.cv)
                             / (sqrt(list_dot_product(c.e, c.e))
                                * sqrt(list_dot_product(r.cv, r.cv))) DESC,
                             r.cent_id ASC) AS rn
                    FROM corpus c, refined r
                ) WHERE rn = 1
            ), probes AS (
                SELECT cent_id FROM refined, q
                ORDER BY list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
                         DESC, cent_id ASC
                LIMIT 4
            )
            SELECT vec_id, round(cos, 4) AS cosine, rank FROM (
                SELECT vec_id, cos,
                       row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
                FROM (
                    SELECT c.vec_id,
                           list_dot_product(c.e, q.qv)
                           / (sqrt(list_dot_product(c.e, c.e))
                              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
                    FROM corpus c
                    JOIN assign a ON c.vec_id = a.vec_id
                    JOIN probes p ON a.cent_id = p.cent_id
                    CROSS JOIN q
                )
            ) WHERE rank <= 10
        """,
        "error_top_fields": """
            WITH v AS (
                SELECT (text IS NOT NULL AND length(text) > 0) AS c1,
                       (n_chars IS NOT NULL AND n_chars BETWEEN 1 AND 100000) AS c2,
                       (n_chars = length(text)) AS c3,
                       (lang IN ('en','zh','de','fr','es','ja')) AS c4
                FROM documents
            ), u AS (
                SELECT 'chk_text_required' AS check_name,
                       count(*) FILTER (WHERE NOT COALESCE(c1, false)) AS n_failed FROM v
                UNION ALL SELECT 'chk_len_range',
                       count(*) FILTER (WHERE NOT COALESCE(c2, false)) FROM v
                UNION ALL SELECT 'chk_len_identity',
                       count(*) FILTER (WHERE NOT COALESCE(c3, false)) FROM v
                UNION ALL SELECT 'chk_lang',
                       count(*) FILTER (WHERE NOT COALESCE(c4, false)) FROM v
            )
            SELECT check_name, n_failed FROM u
            ORDER BY n_failed DESC, check_name ASC LIMIT 10
        """,
        "epoch_parse": """
            WITH f AS (
                SELECT doc_id,
                       'doc_' || doc_id || '_' ||
                       CASE WHEN doc_id % 2 = 0
                            THEN CAST(1765706670749 + doc_id * 7919000 AS VARCHAR)
                            ELSE CAST(1765706670 + doc_id * 7919 AS VARCHAR) END
                       || '.jpg' AS filename
                FROM documents
            ), p AS (
                SELECT doc_id, regexp_extract(filename, '(\\d{13}|\\d{10})', 1) AS d
                FROM f
            )
            SELECT doc_id,
                   CASE WHEN d = '' THEN '' ELSE strftime(
                       make_timestamp(
                           (CASE WHEN length(d) = 13
                                 THEN CAST(d AS BIGINT) // 1000
                                 ELSE CAST(d AS BIGINT) END) * 1000000),
                       '%Y-%m-%d %H:%M:%S') END AS ts_parsed,
                   CASE WHEN d = '' THEN 'none'
                        WHEN length(d) = 13 THEN 'ms' ELSE 's' END AS ts_precision
            FROM p
        """,
        # media_meta: the page payload is a deterministic string of
        # (doc_id, text, lang), so the oracle rebuilds the exact bytes and
        # replays the sniff/hash/fake-decoder arithmetic in SQL.
        "media_meta": """
            WITH h AS (
                SELECT 'https://docs.example.com/' || doc_id AS id,
                       '<html lang="' || lang || '"><head><title>doc ' || doc_id
                       || '</title></head><body>'
                       || '<nav class="menu"><a href="/a">home</a> <a href="/b">about</a></nav>'
                       || '<article><h2>Document ' || doc_id || '</h2><p>' || text
                       || '</p></article>'
                       || '<footer class="footer"><p>boilerplate footer text that is long enough'
                       || ' to be kept if the blocklist ever regresses</p></footer>'
                       || '</body></html>' AS html
                FROM documents
            ), d AS (
                SELECT id, html, sha256(html) AS hx FROM h
            ), b AS (
                SELECT id, html, hx,
                       (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1 AS b0,
                       (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 AS b1,
                       (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 6, 1)) - 1 AS b2,
                       (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 8, 1)) - 1 AS b3
                FROM d
            )
            SELECT id,
                   CAST(octet_length(encode(html)) AS BIGINT) AS n_bytes,
                   'html' AS kind,
                   substr(hx, 1, 16) AS sha256_prefix,
                   CAST(160 + ((b0 + b1 * 256) % 3841) AS INT) AS width,
                   CAST(120 + ((b2 + b3 * 256) % 2161) AS INT) AS height,
                   'stub' AS decoder
            FROM b
        """,
        # av_meta: every payload parameter is integer arithmetic on
        # q = doc_id // 4 (sources/pages.py:build_av_payload), so the oracle
        # replays duration/sample-rate/channel/byte arithmetic directly; the
        # unparseable k=3 branch replays the stub's sha256 digest-byte
        # arithmetic exactly like the media_meta oracle above.
        "av_meta": """
            WITH base AS (
                SELECT doc_id, lang, doc_id // 4 AS q, doc_id % 4 AS k,
                       'https://media.example.com/' || doc_id AS id
                FROM documents
            ), wav AS (
                SELECT id, 'wav' AS kind,
                       CAST(44 + q % 32 AS BIGINT) AS n_bytes,
                       CAST(((8000 + 4000 * (q % 3)) * (1 + q % 2) * 2
                              * (1 + q % 5) + (q % 7) * 16) * 1000
                            // ((8000 + 4000 * (q % 3)) * (1 + q % 2) * 2)
                            AS BIGINT) AS duration_ms,
                       CAST(8000 + 4000 * (q % 3) AS INT) AS sample_rate,
                       CAST(1 + q % 2 AS INT) AS channels,
                       'header' AS decoder
                FROM base WHERE k = 0
            ), mp4 AS (
                SELECT id, 'mp4' AS kind,
                       CAST(52 + q % 16 AS BIGINT) AS n_bytes,
                       CAST((900 + (q * 37) % 100000) * 1000
                            // (CASE WHEN q % 2 = 0 THEN 1000 ELSE 600 END)
                            AS BIGINT) AS duration_ms,
                       CAST(0 AS INT) AS sample_rate,
                       CAST(0 AS INT) AS channels,
                       'header' AS decoder
                FROM base WHERE k = 1
            ), mp3 AS (
                SELECT id, 'mp3' AS kind,
                       CAST((CASE WHEN q % 2 = 0 THEN 10 + q % 100 ELSE 0 END)
                            + 4 + (q * 13) % 4000 AS BIGINT) AS n_bytes,
                       CAST((4 + (q * 13) % 4000) * 8
                            // list_extract([32, 40, 48, 56, 64, 80, 96, 112,
                                             128, 160, 192, 224, 256, 320],
                                            CAST(1 + q % 14 AS INT))
                            AS BIGINT) AS duration_ms,
                       CAST(list_extract([44100, 48000, 32000],
                                         CAST(1 + q % 3 AS INT)) AS INT)
                           AS sample_rate,
                       CAST(CASE WHEN q % 4 = 0 THEN 1 ELSE 2 END AS INT)
                           AS channels,
                       'header' AS decoder
                FROM base WHERE k = 2
            ), unk AS (
                SELECT id,
                       sha256('unparseable media payload ' || doc_id
                              || ' ' || lang) AS hx,
                       octet_length(encode('unparseable media payload '
                              || doc_id || ' ' || lang)) AS nb
                FROM base WHERE k = 3
            ), unk_out AS (
                SELECT id, 'unknown' AS kind, CAST(nb AS BIGINT) AS n_bytes,
                       CAST(1000 + (
                           (strpos('0123456789abcdef', substr(hx, 13, 1)) - 1) * 16
                           + strpos('0123456789abcdef', substr(hx, 14, 1)) - 1
                           + ((strpos('0123456789abcdef', substr(hx, 15, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substr(hx, 16, 1)) - 1) * 256
                       ) % 600000 AS BIGINT) AS duration_ms,
                       CAST(16000 AS INT) AS sample_rate,
                       CAST(1 AS INT) AS channels,
                       'stub' AS decoder
                FROM unk
            )
            SELECT * FROM wav UNION ALL SELECT * FROM mp4
            UNION ALL SELECT * FROM mp3 UNION ALL SELECT * FROM unk_out
        """,
        # media_hash_gate: same deterministic page bytes as media_meta;
        # the blocklist is the digest set of every 11th page
        "media_hash_gate": """
            WITH h AS (
                SELECT doc_id,
                       'https://docs.example.com/' || doc_id AS id,
                       '<html lang="' || lang || '"><head><title>doc ' || doc_id
                       || '</title></head><body>'
                       || '<nav class="menu"><a href="/a">home</a> <a href="/b">about</a></nav>'
                       || '<article><h2>Document ' || doc_id || '</h2><p>' || text
                       || '</p></article>'
                       || '<footer class="footer"><p>boilerplate footer text that is long enough'
                       || ' to be kept if the blocklist ever regresses</p></footer>'
                       || '</body></html>' AS html
                FROM documents
            ), d AS (
                SELECT doc_id, id, sha256(html) AS hx FROM h
            ), bl AS (
                SELECT DISTINCT hx FROM d WHERE doc_id % 11 = 0
            )
            SELECT d.id AS url, d.hx AS sha256,
                   (b.hx IS NOT NULL) AS blocked
            FROM d LEFT JOIN bl b ON d.hx = b.hx
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        """,
        "outer_join": """
            WITH c AS (
                SELECT c_nationkey, count(*) AS n_cust FROM customer
                WHERE c_acctbal > 9000 GROUP BY c_nationkey
            ), s AS (
                SELECT s_nationkey, count(*) AS n_supp FROM supplier
                WHERE s_acctbal > 9000 GROUP BY s_nationkey
            )
            SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
                   COALESCE(n_cust, 0) AS n_cust,
                   COALESCE(n_supp, 0) AS n_supp
            FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        """,
        "asof_join": """
            SELECT p.event_id, p.user_id,
                   epoch_us(p.ts) AS ts_us,
                   epoch_us(c.ts) AS prior_ts_us,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        # frame_sample: pseudo-duration comes from sha256 digest bytes 4-5
        # of the rebuilt payload (multimodal._fake_frames); n frames =
        # clamp(duration/1000, 1, 8); one row per frame via unnest.
        "frame_sample": """
            WITH h AS (
                SELECT 'https://docs.example.com/' || doc_id AS id,
                       sha256('<html lang="' || lang || '"><head><title>doc ' || doc_id
                       || '</title></head><body>'
                       || '<nav class="menu"><a href="/a">home</a> <a href="/b">about</a></nav>'
                       || '<article><h2>Document ' || doc_id || '</h2><p>' || text
                       || '</p></article>'
                       || '<footer class="footer"><p>boilerplate footer text that is long enough'
                       || ' to be kept if the blocklist ever regresses</p></footer>'
                       || '</body></html>') AS hx
                FROM documents
            ), n AS (
                SELECT id,
                       least(8, greatest(1,
                         (500 + ((strpos('0123456789abcdef', substr(hx, 9, 1)) - 1) * 16
                                 + strpos('0123456789abcdef', substr(hx, 10, 1)) - 1
                                 + ((strpos('0123456789abcdef', substr(hx, 11, 1)) - 1) * 16
                                    + strpos('0123456789abcdef', substr(hx, 12, 1)) - 1) * 256)
                               * 4) // 1000)) AS nf
                FROM h
            )
            SELECT id, CAST(f AS INT) AS frame_idx,
                   CAST(f * 1000 AS BIGINT) AS ts_ms, 'stub' AS decoder
            FROM (SELECT id, unnest(generate_series(0, nf - 1)) AS f FROM n)
        """,
        # image_resize: stub dims come from sha256 digest bytes 0-3 of the
        # rebuilt payload (same parse as media_meta); the resize is
        # aspect-preserving integer fit into 512, never upscaling.
        "image_resize": """
            WITH h AS (
                SELECT 'https://docs.example.com/' || doc_id AS id,
                       sha256('<html lang="' || lang || '"><head><title>doc ' || doc_id
                       || '</title></head><body>'
                       || '<nav class="menu"><a href="/a">home</a> <a href="/b">about</a></nav>'
                       || '<article><h2>Document ' || doc_id || '</h2><p>' || text
                       || '</p></article>'
                       || '<footer class="footer"><p>boilerplate footer text that is long enough'
                       || ' to be kept if the blocklist ever regresses</p></footer>'
                       || '</body></html>') AS hx
                FROM documents
            ), b AS (
                SELECT id,
                       (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1 AS b0,
                       (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 AS b1,
                       (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 6, 1)) - 1 AS b2,
                       (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(hx, 8, 1)) - 1 AS b3
                FROM h
            ), d AS (
                SELECT id,
                       160 + ((b0 + b1 * 256) % 3841) AS w,
                       120 + ((b2 + b3 * 256) % 2161) AS h
                FROM b
            )
            SELECT id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(CASE WHEN greatest(w, h) <= 512 THEN w
                             WHEN w >= h THEN 512
                             ELSE greatest(1, (w * 512) // h) END AS INT) AS resized_w,
                   CAST(CASE WHEN greatest(w, h) <= 512 THEN h
                             WHEN w >= h THEN greatest(1, (h * 512) // w)
                             ELSE 512 END AS INT) AS resized_h,
                   'stub' AS decoder
            FROM d
        """,
    }
    d["union_branches"] = (
        d["flagship_extract"] + " UNION ALL " + d["pdf_extract"]
    )
    # the streaming sink over the deterministic doc_id<200 page subset is
    # byte-identical to the batch path (asserted inside q_stream_extract),
    # so the flagship twin restricted to that subset is its exact oracle
    d["stream_extract"] = d["flagship_extract"] + " WHERE doc_id < 200"
    return d
