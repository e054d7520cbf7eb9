"""Distributed deterministic pages source.

``spark.range(n)`` -> ``mapInPandas(gen)`` where row ``i`` is the pure
function ``core.synth.gen_page(i, seed)``: generation itself is distributed
(no driver-side createDataFrame bottleneck at bench scale) yet produces the
byte-identical table regardless of partitioning — the property the golden
path relies on (FIXTURES.md: seed-fixed, purely deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.synth import SEED, gen_page, page_ts
from ..session import PAGES_SCHEMA


def synth_pages(spark: SparkSession, n: int, seed: int = SEED,
                num_partitions: int | None = None) -> DataFrame:
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records([gen_page(int(i), seed) for i in pdf["id"]])

    return spark.range(n, numPartitions=num_partitions).mapInPandas(gen, schema=PAGES_SCHEMA)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized pages table. Accepts either a plain parquet dir
    or an iceberg-lite table root (detected by its manifests/ dir) — the
    north_rule input is an Iceberg table of pages, so the committed-snapshot
    read path must work on the INPUT side too (swap in real Iceberg's
    ``spark.read.table`` at deploy time)."""
    import os

    from .iceberg_lite import IcebergLiteTable

    if os.path.isdir(os.path.join(path, "manifests")):
        df = IcebergLiteTable(path).read(spark, schema=PAGES_SCHEMA)
        if df is None:
            raise ValueError(f"iceberg-lite table at {path} has no committed snapshot")
        return df
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         max_doc_id: int | None = None) -> DataFrame:
    """Wrap the driver-provided ``documents`` table into input_hint-shaped
    pages: html is a deterministic pure function of (doc_id, text, lang) —
    an article-template page whose main content is the document text, padded
    with the same boilerplate families the scorer must strip.

    This anchors the extraction pipeline to the shared testdata so the
    flagship entry runs on /root/testdata/sf*/ as required."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if max_doc_id is not None:
        # deterministic subset (limit() would depend on scan order)
        docs = docs.where(docs["doc_id"] < max_doc_id)

    def to_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                i = int(doc_id)
                html = (
                    f'<html lang="{lang}"><head><title>doc {i}</title></head><body>'
                    f'<nav class="menu"><a href="/a">home</a> <a href="/b">about</a></nav>'
                    f"<article><h2>Document {i}</h2><p>{text}</p></article>"
                    f'<footer class="footer"><p>boilerplate footer text that is long enough'
                    f" to be kept if the blocklist ever regresses</p></footer>"
                    f"</body></html>"
                ).encode("utf-8")
                rows.append(
                    {
                        "url": f"https://docs.example.com/{i}",
                        "warc_ts": page_ts(i),
                        "html": html,
                        "text": None,
                        "lang": lang,
                    }
                )
            yield pd.DataFrame.from_records(rows)

    return docs.select("doc_id", "text", "lang").mapInPandas(to_pages, schema=PAGES_SCHEMA)


def meta_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the documents table as pages with a METADATA-RICH head — the
    input for the page_meta head-extraction operator (operators/pagemeta.py).

    Separate from ``pages_from_documents`` on purpose: the multimodal
    oracles replay THAT template byte-for-byte (sha256 in SQL), so its
    bytes are pinned; this wrapper is free to vary head structure. Every
    head field is a pure function of (doc_id, lang) so the page_meta
    oracle replays it from the documents table:

    - title carries extra whitespace + ``&amp;`` (exercises the collapse
      + entity-decode contract)
    - description alternates attribute order by doc_id parity (exercises
      both coalesced patterns)
    - og:title is ABSENT when doc_id % 3 == 0 (exercises the NULL path)
    - canonical link carries a tracking param (downstream canonicalization)
    - robots meta: 'noindex,nofollow' when doc_id % 7 == 0, 'nofollow'
      when doc_id % 5 == 0, absent otherwise (absent => false/false)
    """
    import datetime as dt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_ts = dt.datetime(2026, 1, 9, 17, 7, 52)

    def to_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                i = int(doc_id)
                desc = f"Summary of document {i} ({lang})"
                desc_tag = (
                    f'<meta name="description" content="{desc}">'
                    if i % 2 == 0
                    else f'<meta content="{desc}" name="description">'
                )
                og_tag = "" if i % 3 == 0 else f'<meta property="og:title" content="Doc {i}">'
                robots = (
                    "noindex,nofollow" if i % 7 == 0
                    else ("nofollow" if i % 5 == 0 else None)
                )
                robots_tag = f'<meta name="robots" content="{robots}">' if robots else ""
                html = (
                    f'<html lang="{lang}"><head><title> doc   {i} &amp; notes </title>'
                    f"{desc_tag}{og_tag}"
                    f'<link rel="canonical" href="https://docs.example.com/{i}?utm_source=feed">'
                    f"{robots_tag}</head>"
                    f"<body><article><p>{text}</p></article></body></html>"
                ).encode("utf-8")
                rows.append(
                    {
                        "url": f"https://docs.example.com/{i}",
                        "warc_ts": base_ts + dt.timedelta(seconds=i),
                        "html": html,
                        "text": None,
                        "lang": lang,
                    }
                )
            yield pd.DataFrame.from_records(rows)

    return docs.select("doc_id", "text", "lang").mapInPandas(to_pages, schema=PAGES_SCHEMA)


def pdf_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the documents table as PDF-payload pages (the binary branch of
    the extraction dispatch): each document's text becomes one page content
    stream in the closed dialect of ``core.pdfparse`` — even doc_ids
    FlateDecode-compressed, odd raw, so both stream paths run. The extracted
    text is a deterministic whitespace-collapse of the document text, which
    is what the SQL oracle replays."""
    import datetime as dt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_ts = dt.datetime(2026, 1, 9, 17, 7, 52)

    def to_pdf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.synth import build_pdf

        for pdf in batches:
            rows = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                i = int(doc_id)
                payload = build_pdf([text if isinstance(text, str) else ""], flate=i % 2 == 0)
                rows.append(
                    {
                        "url": f"pdf://docs.example.com/{i}",
                        "warc_ts": base_ts + dt.timedelta(seconds=i),
                        "html": payload,
                        "text": None,
                        "lang": lang,
                    }
                )
            yield pd.DataFrame.from_records(rows)

    return docs.select("doc_id", "text", "lang").mapInPandas(to_pdf, schema=PAGES_SCHEMA)


def build_av_payload(doc_id: int, lang: str) -> bytes:
    """Deterministic A/V container payload for ``doc_id`` — the fixture twin
    of ``operators.multimodal.parse_av_header``. Every parameter is integer
    arithmetic on ``q = doc_id // 4`` so a SQL oracle can replay the expected
    metadata without parsing bytes:

    - ``doc_id % 4 == 0`` -> RIFF/WAVE: channels ``1+q%2``, sample_rate
      ``8000+4000*(q%3)``, declared data size ``byte_rate*(1+q%5)+(q%7)*16``
      (header-only fixture: the data chunk declares its size but carries only
      ``q%32`` bytes — exactly the header-not-samples read path the operator
      exists for); total bytes ``44 + q%32``.
    - ``% 4 == 1`` -> ISO-BMFF: ftyp + moov/mvhd(v0), timescale 1000 (q even)
      or 600 (q odd), duration units ``900+(q*37)%100000``, ``q%16`` trailing
      pad; total bytes ``52 + q%16``.
    - ``% 4 == 2`` -> MPEG-1 Layer III: bitrate index ``1+q%14``, sample-rate
      index ``q%3``, mono when ``q%4==0``, optional ID3v2 tag of ``q%100``
      bytes when q is even, ``(q*13)%4000`` frame-payload bytes.
    - ``% 4 == 3`` -> an unparseable text payload (exercises the disclosed
      deterministic-stub fallback, whose sha256 arithmetic SQL replays).
    """
    q, k = doc_id // 4, doc_id % 4
    if k == 0:
        channels = 1 + q % 2
        sample_rate = 8000 + 4000 * (q % 3)
        byte_rate = sample_rate * channels * 2
        data_size = byte_rate * (1 + q % 5) + (q % 7) * 16
        pad = q % 32
        fmt = (
            (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
            + (channels * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        )
        return (b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
                + b"fmt " + (16).to_bytes(4, "little") + fmt
                + b"data" + data_size.to_bytes(4, "little") + b"\x00" * pad)
    if k == 1:
        timescale = 1000 if q % 2 == 0 else 600
        duration = 900 + (q * 37) % 100000
        pad = q % 16
        mvhd = ((28).to_bytes(4, "big") + b"mvhd" + b"\x00\x00\x00\x00"
                + b"\x00" * 8 + timescale.to_bytes(4, "big")
                + duration.to_bytes(4, "big"))
        return ((16).to_bytes(4, "big") + b"ftyp" + b"isom" + b"\x00" * 4
                + (36).to_bytes(4, "big") + b"moov" + mvhd + b"\x00" * pad)
    if k == 2:
        br_idx = 1 + q % 14
        sr_idx = q % 3
        mono = q % 4 == 0
        pad = (q * 13) % 4000
        frame = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2),
                       0xC0 if mono else 0x00]) + b"\x00" * pad
        if q % 2 == 0:
            tagsize = q % 100
            id3 = (b"ID3\x03\x00\x00" + b"\x00\x00\x00" + bytes([tagsize])
                   + b"\x00" * tagsize)
            return id3 + frame
        return frame
    return f"unparseable media payload {doc_id} {lang}".encode("utf-8")


def av_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the documents table as binary A/V payloads (url, payload) — the
    input for the av_features metadata operator. Pure function of
    (doc_id, lang), distributed synthesis like the other wrappers."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def to_av(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [{"url": f"https://media.example.com/{int(i)}",
                  "payload": build_av_payload(int(i), str(lg))}
                 for i, lg in zip(pdf["doc_id"], pdf["lang"])]
            )

    return docs.select("doc_id", "lang").mapInPandas(
        to_av, schema="url string, payload binary")
