"""Salted-partitioning skew evidence + window/asof/rollup operator units."""

import re

import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators.analytics import asof_prior_event, rollup_event_stats
from ocr_spark.operators.chunking import STRIDE, WINDOW, WS_CLASS
from ocr_spark.operators.extract_op import extract_pages
from ocr_spark.plans.partitioning import salted_repartition
from ocr_spark.sources.pages import synth_pages

N_PARTS = 16


def _partition_counts(df):
    return (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"]
    )


def test_salted_repartition_bounds_hot_host(spark):
    """The Zipf host skew motivates the salt: partitioning by bare host
    leaves the top host's pages in ONE partition; the salted key spreads
    them over ~SALT_BUCKETS partitions and flattens the overall balance."""
    pages = synth_pages(spark, 8000, num_partitions=8).select("url")

    top_host = (
        pages.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .groupBy("host").count().orderBy(F.desc("count")).first()
    )
    assert top_host["count"] > 8000 / 20  # the skew is real (top host >5%)

    by_host = pages.repartition(N_PARTS, F.parse_url("url", F.lit("HOST")))
    salted = salted_repartition(pages, N_PARTS)

    hot = pages.where(F.parse_url("url", F.lit("HOST")) == top_host["host"])
    hot_by_host = _partition_counts(
        hot.repartition(N_PARTS, F.parse_url("url", F.lit("HOST")))
    )
    hot_salted = _partition_counts(salted_repartition(hot, N_PARTS))
    assert len(hot_by_host) == 1          # unsalted: entire host on one partition
    assert len(hot_salted) >= 8           # salted: spread over many partitions

    # overall balance: salted max-partition share strictly better
    assert _partition_counts(salted).max() < _partition_counts(by_host).max()


def test_extract_unshuffled_matches_salted_bytes(spark):
    """The pre-parse layout must not change extraction results: parsing
    the input partitions as they are yields byte-identical (url, text) to
    the salted shuffle."""
    pages = synth_pages(spark, 600, num_partitions=4)
    a = {(r.url, r.text) for r in extract_pages(pages, repartition=True).collect()}
    b = {(r.url, r.text) for r in extract_pages(pages, repartition=False).collect()}
    assert a == b and len(a) == 600


def test_asof_prior_event_semantics(spark):
    rows = [
        # user 1: click at 100s, purchase at 200s -> gap 100s
        (1, 1, "1970-01-01 00:01:40", "click"),
        (2, 1, "1970-01-01 00:03:20", "purchase"),
        # user 1: later click AFTER the purchase must not match it
        (3, 1, "1970-01-01 00:05:00", "click"),
        (4, 1, "1970-01-01 00:06:40", "purchase"),   # matches click@300s
        # user 2: purchase with no prior click -> NULL (left join)
        (5, 2, "1970-01-01 00:01:00", "purchase"),
        # user 3: click at the SAME instant counts ("at or before")
        (6, 3, "1970-01-01 00:02:00", "click"),
        (7, 3, "1970-01-01 00:02:00", "purchase"),
    ]
    events = spark.createDataFrame(rows, "event_id long, user_id long, s string, event_type string") \
        .withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    out = asof_prior_event(events).toPandas().set_index("event_id")
    assert out.loc[2, "gap_us"] == 100 * 1_000_000
    assert out.loc[4, "gap_us"] == 100 * 1_000_000   # 400s - 300s
    assert pd.isna(out.loc[5, "prior_ts_us"])
    assert out.loc[7, "gap_us"] == 0
    assert len(out) == 4                              # one row per purchase


def test_rollup_grand_total(spark):
    events = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 4.0)],
        "event_id long, event_type string, value double",
    )
    out = rollup_event_stats(events).toPandas()
    total = out[out.is_total == 1]
    assert len(total) == 1 and total.n_events.iloc[0] == 3
    assert total.sum_value.iloc[0] == 7.0
    assert set(out[out.is_total == 0].event_type) == {"a", "b"}


def chunk_text(text: str, window: int = WINDOW, stride: int = STRIDE):
    """Pure chunker, the oracle ``chunk_documents`` is asserted against:
    [(chunk_idx, chunk_text, n_tokens), ...]."""
    toks = [t for t in re.split(WS_CLASS, text) if t] if text else []
    out = []
    for idx, start in enumerate(range(0, len(toks), stride)):
        sub = toks[start : start + window]
        out.append((idx, " ".join(sub), len(sub)))
    return out


def test_chunk_text_windows():
    assert chunk_text("", 4, 3) == []
    assert chunk_text("a b c", 4, 3) == [(0, "a b c", 3)]
    assert chunk_text("a b c d e f g", 4, 3) == [
        (0, "a b c d", 4), (1, "d e f g", 4), (2, "g", 1)]
    # overlap: consecutive chunks share window-stride tokens
    chunks = chunk_text(" ".join(f"t{i}" for i in range(130)))
    assert len(chunks) == 3
    assert chunks[0][1].split()[50:] == chunks[1][1].split()[:10]
    # the shared tokenizer class: \r \f \v split exactly like space/tab/\n
    assert chunk_text("a\rb\fc\x0bd\te", 4, 3) == [(0, "a b c d", 4), (1, "d e", 2)]


def _crafted_docs(spark):
    rows = [
        (0, "plain words " * 40),
        (1, "tabs\tand\nnewlines\rand\fother\x0bwhitespace " * 13),
        (2, " leading and trailing  \n"),
        (3, ""),                      # zero tokens -> zero chunks
        (4, None),                    # null text -> zero chunks
        (5, " ".join(f"w{i}" for i in range(137))),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_documents_expression_matches_pure_chunker(spark):
    from ocr_spark.operators.chunking import chunk_documents

    docs = _crafted_docs(spark)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(docs).collect()
    }
    expected = {}
    for doc_id, text in docs.collect():
        for idx, chunk, n in chunk_text(text or ""):
            expected[(doc_id, idx)] = (chunk, n)
    assert got == expected
    assert not any(k[0] in (3, 4) for k in got)


def test_pack_sequences_two_pass_matches_global_cumsum(spark, monkeypatch):
    """The range-partitioned two-pass cumsum must equal the naive global
    computation at high partition counts (64 partitions over 600 chunks)."""
    from ocr_spark import session
    from ocr_spark.operators.chunking import chunk_documents, pack_sequences

    monkeypatch.setattr(session, "default_partitions", lambda spark: 64)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range((i * 37) % 130 + 1)))
         for i in range(200)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs)
    got = {
        (r.doc_id, r.chunk_idx): r.seq_id
        for r in pack_sequences(chunks).collect()
    }
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens) for r in chunks.collect()
    )
    acc, expected = 0, {}
    for doc_id, chunk_idx, n_tokens in rows:
        expected[(doc_id, chunk_idx)] = acc // 256
        acc += n_tokens
    assert got == expected


def test_burst_detection_flags_flood_not_warmup(spark):
    """A planted 50x flood hour must flag; warm-up rows (empty baseline)
    and steady hours must not; the flood hour's own count must not
    contaminate its baseline (frame ends at 1 PRECEDING)."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.analytics import burst_detection

    # 48 steady hours of 6 events, then hour 48 floods with 300
    steady = spark.range(0, 48 * 6).select(
        F.lit("click").alias("event_type"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(hours=(F.col("id") / 6).cast("int"))).alias("ts"),
    )
    flood = spark.range(0, 300).select(
        F.lit("click").alias("event_type"),
        F.to_timestamp(F.lit("2024-01-03 00:30:00")).alias("ts"),
    )
    out = burst_detection(steady.unionByName(flood)).toPandas()
    out = out.sort_values("hour").reset_index(drop=True)
    assert len(out) == 49
    # warm-up first row: no baseline, not a burst, never dropped
    assert out.loc[0, "zscore"] is None or pd.isna(out.loc[0, "zscore"])
    assert not out.loc[0, "is_burst"]
    # steady middle: zero variance baseline -> NULL z, no burst
    assert not out.loc[10, "is_burst"]
    # the flood hour flags, with the baseline unpolluted by itself
    last = out.iloc[-1]
    assert last.n_events == 300 and last.is_burst
    assert last.base_avg == 6.0
