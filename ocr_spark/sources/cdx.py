"""CDXJ crawl-index source + WARC fetch planning.

Common Crawl publishes its URL index as CDXJ: one line per capture,
``<SURT urlkey> <14-digit timestamp> <JSON blob>`` where the JSON carries
url, mime, status, digest, length, offset, filename (the WARC member's
byte range). At 10^12 documents the index IS the query layer: you never
scan the WARCs to find pages — you scan the (much smaller) CDX, filter,
and plan range reads.

Everything here is JVM-side (regexp_extract for the line frame,
``from_json`` for the blob, no Python):

- :func:`parse_cdxj` — lines -> typed capture rows. Malformed lines come
  back with ``cdx_ok=false`` and NULL fields, never dropped (P7: the
  reference's parse-failure contract, one_key_process.py:688-704 em).
- :func:`fetch_plan` — captures -> per-WARC-file batched range-read plan:
  group by warc file, order by offset (sequential reads win on both S3
  and disk), cut into ``batch_size``-record batches, one row per batch
  with record count / byte span. Malformed captures aggregate under the
  NULL warc path so the plan also audits what it could not plan. The
  per-file window is bounded by records-per-WARC (~10^5), never corpus-
  wide; the groupBy is the only corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# CC CDXJ stores every JSON value as a string; types are applied here.
CDX_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)

_LINE_RE = r"^(\S+) (\d{14}) (\{.*\})$"


def parse_cdxj(lines: DataFrame) -> DataFrame:
    """CDXJ lines -> (urlkey, ts, url, status, mime, digest, warc_path,
    warc_offset, warc_length, cdx_ok). ``ts`` is formatted
    'yyyy-MM-dd HH:mm:ss' (engine-portable string form). A line that
    fails the frame regex or whose JSON lacks url/filename is returned
    with cdx_ok=false and NULL capture fields."""
    line = F.col("value")
    surt = F.regexp_extract(line, _LINE_RE, 1)
    ts_raw = F.regexp_extract(line, _LINE_RE, 2)
    blob = F.regexp_extract(line, _LINE_RE, 3)
    j = F.from_json(blob, CDX_JSON_SCHEMA)
    ok = (
        (surt != "")
        & j.isNotNull()
        & j["url"].isNotNull()
        & j["filename"].isNotNull()
    )
    null_s = F.lit(None).cast("string")

    def guard(c):
        return F.when(ok, c).otherwise(null_s)

    return lines.select(
        guard(surt).alias("urlkey"),
        guard(
            F.date_format(
                F.to_timestamp(ts_raw, "yyyyMMddHHmmss"),
                "yyyy-MM-dd HH:mm:ss",
            )
        ).alias("ts"),
        guard(j["url"]).alias("url"),
        F.when(ok, j["status"].cast("int")).alias("status"),
        guard(j["mime"]).alias("mime"),
        guard(j["digest"]).alias("digest"),
        guard(j["filename"]).alias("warc_path"),
        F.when(ok, j["offset"].cast("long")).alias("warc_offset"),
        F.when(ok, j["length"].cast("long")).alias("warc_length"),
        ok.alias("cdx_ok"),
    )


FETCH_BATCH_SIZE = 4  # records per fetch_plan batch


def fetch_plan(captures: DataFrame) -> DataFrame:
    """Captures -> one row per (warc_path, batch): records ordered by
    offset within each WARC file and cut into ``FETCH_BATCH_SIZE``-record batches
    (offset order => each batch is one near-sequential range scan).
    Returns (warc_path, batch, n_records, bytes_total, min_offset,
    max_offset). Unparseable captures (NULL warc_path) form their own
    audit group with batch 0 and NULL offsets."""
    w = Window.partitionBy("warc_path").orderBy(
        F.asc_nulls_first("warc_offset"), F.asc("url")
    )
    batched = captures.withColumn(
        "batch",
        F.floor((F.row_number().over(w) - 1) / FETCH_BATCH_SIZE).cast("int"),
    )
    return batched.groupBy("warc_path", "batch").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("warc_length").alias("bytes_total"),
        F.min("warc_offset").alias("min_offset"),
        F.max("warc_offset").alias("max_offset"),
    )
