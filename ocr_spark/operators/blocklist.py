"""URL blocklist gate — UT1/adult-domains-style category filtering.

Every production crawl pipeline front-loads a domain blocklist (the
Universite Toulouse 1 category lists are the public standard: adult,
malware, gambling, ...) before any expensive parse: a listed domain
blocks the exact host AND every subdomain under it ('example.org' blocks
'a.b.example.org').

Scale shape — ZERO shuffle on the corpus side. The tempting relational
spelling (explode the host's DNS suffix chain, equi-join, re-group by
doc) pays a corpus-wide shuffle to reassemble documents. Instead the
suffix chain becomes ``DEFAULT_MAX_DEPTH`` COLUMNS (suffix of the last i
labels, i = 1..DEFAULT_MAX_DEPTH, NULL when the host is shorter), each
probed by its own broadcast hash join against the (tiny) rules table — all
map-side, the same broadcast reused — and the verdict is a
most-specific-first coalesce. Streaming-safe, no state, no regroup; cost is
DEFAULT_MAX_DEPTH probes per row against an in-memory hash map.

Rules with duplicate domains are deduped (min category, deterministic)
on the broadcast side only — a tiny-table shuffle, never the corpus.
Rows NEVER drop: the gate returns every input row + (host,
block_category, kept) — P7 discipline, the caller filters.

Reference analog: the rule blocklist that prunes candidate regions
before recognition (ocr_rules.py blocklist anchoring; SURVEY §2 P1/P8) —
here the blocklist is host-granular and the pruning happens before the
DOM parse instead of before OCR.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import urls as U

DEFAULT_MAX_DEPTH = 5


def host_suffix(host: Column, i: int) -> Column:
    """Dot-joined suffix of the last ``i`` DNS labels of ``host``; NULL
    when the host has fewer than ``i`` labels (so a short host can never
    equi-match a longer rule)."""
    labels = F.split(host, r"\.")
    return F.when(
        F.size(labels) >= i, F.array_join(F.slice(labels, -i, i), ".")
    )


def blocklist_gate(df: DataFrame, rules: DataFrame) -> DataFrame:
    """Gate ``df`` against ``rules`` (domain: string, category: string).
    A row is blocked when any of the last-``i``-label suffixes of its
    canonical host (i <= DEFAULT_MAX_DEPTH) equals a rule domain; the deepest
    (most specific) matching rule's category wins. Returns the input +
    (host, block_category, kept). Hosts deeper than ``DEFAULT_MAX_DEPTH``
    labels match on their deepest ``DEFAULT_MAX_DEPTH`` suffixes — list entries are
    registrable domains or shallow subdomains in practice, so the cap
    bounds plan width without losing real rules.
    """
    canon = (
        rules.groupBy(F.col("domain"))
        .agg(F.min("category").alias("category"))
    )
    out = df.withColumn("host", U.url_host("url"))
    cats = []
    for i in range(DEFAULT_MAX_DEPTH, 0, -1):  # most specific first
        r = F.broadcast(
            canon.select(
                F.col("domain").alias(f"_d{i}"),
                F.col("category").alias(f"_c{i}"),
            )
        )
        out = out.join(
            r, host_suffix(F.col("host"), i) == F.col(f"_d{i}"), "left"
        )
        cats.append(F.col(f"_c{i}"))
    out = out.withColumn("block_category", F.coalesce(*cats)).withColumn(
        "kept", F.col("block_category").isNull()
    )
    return out.drop(
        *[c for i in range(1, DEFAULT_MAX_DEPTH + 1) for c in (f"_d{i}", f"_c{i}")]
    )
