"""WARC-lite segment source: Common-Crawl-style archive bytes -> pages.

The north-rule input is an Iceberg table of Common-Crawl-style pages; the
step BEFORE that table exists is splitting raw WARC segments into page
records. This module implements that ingest edge for a closed WARC/1.0
subset (response records with WARC-Target-URI / WARC-Date /
Content-Length headers — the public format, minus gzip and the HTTP
envelope, neither of which changes the record-framing problem).

Scale posture: one segment = one row of (segment_id, data binary) = one
unit of parallel work, exactly how crawl archives shard in practice
(thousands of ~1 GB segments). Parsing is a ``mapInPandas`` over the
segment rows — Arrow-batched, no driver involvement, no shuffle; at
cluster scale the segments DataFrame comes straight from
``spark.read.format("binaryFile")`` over the segment store and each task
streams its own segment.

Recovery discipline (the P7 transposition): a record with a corrupt
Content-Length or truncated body must not poison its segment — the parser
re-synchronizes at the next ``WARC/1.0`` magic and keeps every intact
record, mirroring core.extract's failure->empty-never-drop contract.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import PAGES_SCHEMA

_MAGIC = b"WARC/1.0\r\n"
_TS_FMT = "%Y-%m-%dT%H:%M:%SZ"


def build_warc_segment(records: list[tuple[str, dt.datetime, bytes]]) -> bytes:
    """Serialize (url, ts, payload) triples into one WARC-lite segment.
    Pure function — the round-trip tests and the SQL oracle rely on
    byte-determinism."""
    out = []
    for url, ts, payload in records:
        header = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime(_TS_FMT)}\r\n"
            f"Content-Length: {len(payload)}\r\n"
            "\r\n"
        ).encode("utf-8")
        out.append(header + payload + b"\r\n\r\n")
    return b"".join(out)


def parse_warc_segment(data: bytes) -> list[dict]:
    """Parse one segment into [{url, warc_ts, payload}] dicts, skipping
    damaged records by re-synchronizing at the next record magic."""
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(_MAGIC, pos)
        if start < 0:
            break
        head_end = data.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers = {}
        for line in data[start + len(_MAGIC) : head_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            if v:
                headers[k.strip().lower()] = v.strip()
        body_start = head_end + 4
        try:
            length = int(headers[b"content-length"])
            if length < 0 or body_start + length > n:
                raise ValueError("bad length")
            url = headers[b"warc-target-uri"].decode("utf-8")
            ts = dt.datetime.strptime(
                headers[b"warc-date"].decode("ascii"), _TS_FMT
            )
        except (KeyError, ValueError, UnicodeDecodeError):
            # damaged record: drop IT, keep the segment — scan on from
            # just past this magic so an intact next record still parses
            pos = start + len(_MAGIC)
            continue
        records.append(
            {
                "url": url,
                "warc_ts": ts,
                "payload": data[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return records


def warc_pages(segments: DataFrame) -> DataFrame:
    """(segment rows with a binary ``data`` column) -> input_hint-shaped pages
    (url, warc_ts, html, text=NULL, lang=NULL). One task per partition of
    segments; records fan out 1:N inside the Arrow batch (no explode, no
    shuffle)."""

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for data in pdf["data"]:
                for rec in parse_warc_segment(bytes(data)):
                    rows.append(
                        {
                            "url": rec["url"],
                            "warc_ts": rec["warc_ts"],
                            "html": rec["payload"],
                            "text": None,
                            "lang": None,
                        }
                    )
            yield pd.DataFrame.from_records(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return segments.mapInPandas(split, schema=PAGES_SCHEMA)


def warc_segments_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WARC segments synthesized from the shared documents
    table: documents group into segments by doc_id // 25
    (sorted within), each document becoming one response record with
    url ``warc://docs.example.com/<doc_id>``, a doc_id-derived timestamp,
    and the utf-8 text bytes as payload. Pure function of the table, so
    the parse->decode round trip is SQL-checkable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_ts = dt.datetime(2026, 2, 3, 4, 5, 6)

    def build(key, pdf):
        pdf = pdf.sort_values("doc_id")
        recs = [
            (
                f"warc://docs.example.com/{int(i)}",
                base_ts + dt.timedelta(seconds=int(i)),
                (t if isinstance(t, str) else "").encode("utf-8"),
            )
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            [{"segment_id": int(key[0]), "data": build_warc_segment(recs)}]
        )

    return (
        docs.select("doc_id", "text", (F.col("doc_id") / 25).cast("long").alias("seg"))
        .groupBy("seg")
        .applyInPandas(build, schema="segment_id long, data binary")
    )


def wet_records(df: DataFrame) -> DataFrame:
    """Format extracted pages as WET-style conversion records — the
    text-derivative archive format Common Crawl publishes next to its WARCs
    (WARC/1.0 ``conversion`` records: target URI, date, block digest,
    text/plain payload). Output is one record string per page plus its
    payload byte length.

    Scale posture: pure JVM expressions (concat / date_format / sha2 /
    octet_length) — zero shuffle, zero Python, streaming-safe; a sink
    writes one WET segment per partition by concatenating ``record``
    values in partition order. Digest is sha256 (labeled in the header)
    rather than Common Crawl's sha1-base32 — same role, and portable to
    the SQL twin. NULL text formats as an empty conversion record, so no
    url ever disappears from the archive (the P7 never-drop contract)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    ts = F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    nbytes = F.octet_length(txt)
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        F.col("url"),
        F.lit("\r\nWARC-Date: "), ts,
        F.lit("\r\nWARC-Block-Digest: sha256:"), F.lower(F.sha2(txt, 256)),
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        nbytes.cast("string"),
        F.lit("\r\n\r\n"), txt, F.lit("\r\n\r\n"),
    )
    return df.select(
        F.col("url"),
        rec.alias("record"),
        nbytes.cast("long").alias("content_length"),
    )
