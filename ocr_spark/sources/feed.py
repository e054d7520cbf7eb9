"""RSS/Atom feed source: typed items from syndication XML.

Feeds are the push-side of the crawl frontier (sitemaps are the
pull-side, ``sources/sitemap.py``): a host's RSS ``<item>`` or Atom
``<entry>`` blocks announce NEW urls with timestamps, so at crawl scale
"poll the feeds, fetch only unseen guids" replaces re-crawling the whole
host. (Reference analog: the recursive input discovery walk,
main.py:21-33 — enumerate work from cheap metadata before touching any
payload.)

Parsing is the same zero-Python JVM shape as the sitemap source:
``regexp_extract_all`` block extraction + per-field ``regexp_extract``,
one codegen projection per nesting level. Both dialects are handled in
one pass — RSS 2.0 (``<item>``, ``<link>body</link>``, ``<pubDate>``
RFC-822, ``<guid>``) and Atom (``<entry>``, ``<link href="..."/>``,
``<updated>`` ISO-8601, ``<id>``) — and normalized to one schema. A
block with no resolvable link comes back ``feed_ok=false`` with NULL
fields, never dropped (the P7 failure contract; feed spam and truncated
XML are routine at crawl scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ITEM_RE = r"(?s)<item>(.*?)</item>"
_ENTRY_RE = r"(?s)<entry>(.*?)</entry>"
_RSS_LINK_RE = r"(?s)<link>\s*(.*?)\s*</link>"
_ATOM_LINK_RE = r'(?s)<link[^>]*href="([^"]*)"'
_TITLE_RE = r"(?s)<title>\s*(.*?)\s*</title>"
_RSS_TS_RE = r"(?s)<pubDate>\s*(.*?)\s*</pubDate>"
_ATOM_TS_RE = r"(?s)<updated>\s*(.*?)\s*</updated>"
_RSS_GUID_RE = r"(?s)<guid[^>]*>\s*(.*?)\s*</guid>"
_ATOM_ID_RE = r"(?s)<id>\s*(.*?)\s*</id>"

# RFC-822 feed dates ("Mon, 01 Jan 2024 07:00:00 +0000") and ISO-8601
# Atom dates. Spark's CORRECTED datetime parser forbids 'E' (day-of-week)
# in PARSE patterns, so the redundant "EEE, " prefix is stripped first —
# the day name carries no information the date doesn't.
_RFC822_DOW_PREFIX = r"^[A-Za-z]{3}, "
_RFC822_FMT = "dd MMM yyyy HH:mm:ss Z"
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ssX"


def _items(feeds: DataFrame, block_re: str, dialect: str) -> DataFrame:
    exploded = feeds.select(
        "host",
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col("feed_xml"), F.lit("")),
                F.lit(block_re), F.lit(1),
            )
        ).alias("block"),
    )
    if dialect == "rss":
        link = F.regexp_extract("block", _RSS_LINK_RE, 1)
        ts_raw = F.nullif(F.regexp_extract("block", _RSS_TS_RE, 1), F.lit(""))
        ts = F.try_to_timestamp(
            F.regexp_replace(ts_raw, F.lit(_RFC822_DOW_PREFIX), F.lit("")),
            F.lit(_RFC822_FMT),
        )
        guid = F.nullif(F.regexp_extract("block", _RSS_GUID_RE, 1), F.lit(""))
    else:
        link = F.regexp_extract("block", _ATOM_LINK_RE, 1)
        ts_raw = F.nullif(F.regexp_extract("block", _ATOM_TS_RE, 1), F.lit(""))
        ts = F.try_to_timestamp(ts_raw, F.lit(_ISO_FMT))
        guid = F.nullif(F.regexp_extract("block", _ATOM_ID_RE, 1), F.lit(""))
    ok = link != ""

    def guard(c):
        return F.when(ok, c)

    return exploded.select(
        "host",
        F.lit(dialect).alias("dialect"),
        guard(link).alias("link"),
        guard(F.nullif(F.regexp_extract("block", _TITLE_RE, 1), F.lit("")))
        .alias("title"),
        guard(ts).alias("item_ts"),
        # a guid-less item falls back to its link (the de-facto RSS rule)
        guard(F.coalesce(guid, link)).alias("guid"),
        ok.alias("feed_ok"),
    )


def parse_feed_items(feeds: DataFrame) -> DataFrame:
    """Feed documents -> (host, dialect, link, title, item_ts, guid,
    feed_ok), one row per RSS ``<item>`` plus one per Atom ``<entry>``.
    A document carrying both dialects (rare but legal after aggregator
    concatenation) contributes rows from both passes."""
    rss = _items(feeds, _ITEM_RE, "rss")
    atom = _items(feeds, _ENTRY_RE, "atom")
    return rss.unionByName(atom)
