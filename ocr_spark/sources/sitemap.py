"""Sitemap XML source + recrawl planning.

Sitemaps are the crawl-frontier metadata layer of the web: a host
publishes ``/sitemap.xml`` listing its canonical URLs with
last-modification dates and crawl priorities (the sitemaps.org
protocol), or a ``<sitemapindex>`` fanning out to nested sitemap files.
At crawl scale the sitemap diff IS the fetch scheduler: compare each
declared ``<lastmod>`` against the newest committed capture of that URL
and fetch only what is new or stale — never re-crawl the long tail that
did not change. (The reference's analog is its recursive input
discovery walk, main.py:21-33: enumerate work from cheap metadata
before touching any payload.)

Everything here is JVM-side (``regexp_extract_all`` over the XML body,
no Python):

- :func:`parse_sitemap_entries` — sitemap documents -> one typed row
  per ``<url>`` / ``<sitemap>`` block. A block with no ``<loc>`` comes
  back with ``sitemap_ok=false`` and NULL fields, never dropped (the
  P7 failure contract). ``<sitemapindex>`` members are surfaced as
  ``entry_type='sitemap'`` so a driver loop can fetch nested sitemaps —
  the fan-out is data, not control flow.
- :func:`recrawl_plan` — parsed entries x committed captures -> the
  fetch plan: ``'new'`` URLs (never captured) and ``'stale'`` ones
  (``lastmod`` strictly after the newest capture), with the sitemap's
  own priority carried for scheduling. One max-aggregate over captures
  plus one equi-join on url; nothing quadratic, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one capture group per block body; (?s) so blocks may span lines
_URL_BLOCK_RE = r"(?s)<url>(.*?)</url>"
_SITEMAP_BLOCK_RE = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC_RE = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD_RE = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"
_CHANGEFREQ_RE = r"(?s)<changefreq>\s*(.*?)\s*</changefreq>"
_PRIORITY_RE = r"(?s)<priority>\s*(.*?)\s*</priority>"


def _parse_blocks(df: DataFrame, block_re: str, entry_type: str) -> DataFrame:
    block = F.explode(
        F.regexp_extract_all(F.coalesce(F.col("sitemap_xml"), F.lit("")),
                             F.lit(block_re), F.lit(1))
    ).alias("block")
    exploded = df.select("host", block)
    loc = F.regexp_extract("block", _LOC_RE, 1)
    ok = loc != ""

    def guard(c):
        return F.when(ok, c)

    return exploded.select(
        "host",
        F.lit(entry_type).alias("entry_type"),
        guard(loc).alias("loc"),
        guard(F.nullif(F.regexp_extract("block", _LASTMOD_RE, 1), F.lit("")))
        .alias("lastmod"),
        guard(F.nullif(F.regexp_extract("block", _CHANGEFREQ_RE, 1), F.lit("")))
        .alias("changefreq"),
        guard(
            F.nullif(F.regexp_extract("block", _PRIORITY_RE, 1), F.lit(""))
            .cast("double")
        ).alias("priority"),
        ok.alias("sitemap_ok"),
    )


def parse_sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Sitemap documents -> (host, entry_type, loc, lastmod,
    changefreq, priority, sitemap_ok), one row per ``<url>`` block plus
    one per ``<sitemapindex>`` member (``entry_type='sitemap'``).
    ``lastmod`` stays the declared string (W3C datetime is a family of
    formats; callers cast at the comparison site). A block without
    ``<loc>`` yields sitemap_ok=false with NULL fields."""
    urls = _parse_blocks(sitemaps, _URL_BLOCK_RE, "url")
    nested = _parse_blocks(sitemaps, _SITEMAP_BLOCK_RE, "sitemap")
    return urls.unionByName(nested)


def recrawl_plan(entries: DataFrame, captures: DataFrame) -> DataFrame:
    """Parsed ``<url>`` entries x committed captures -> (url, lastmod,
    priority, reason) where reason is ``'new'`` (no capture exists) or
    ``'stale'`` (declared lastmod is strictly after the newest capture).
    Up-to-date URLs and malformed / index entries produce no plan rows.

    Scale shape: captures collapse to one row per url (map-side partial
    max), then one equi-join against the entry list — at 10^12 captures
    both sides shuffle on url once; with a small capture table AQE takes
    the broadcast path instead."""
    latest = captures.groupBy(F.col("url")).agg(
        F.max("capture_date").alias("last_capture")
    )
    urls = entries.where(F.col("sitemap_ok") & (F.col("entry_type") == "url"))
    joined = urls.join(latest, urls.loc == latest.url, "left")
    return joined.where(
        F.col("last_capture").isNull()
        | (F.col("lastmod").cast("date") > F.col("last_capture"))
    ).select(
        F.col("loc").alias("url"),
        "lastmod",
        "priority",
        F.when(F.col("last_capture").isNull(), "new")
        .otherwise("stale")
        .alias("reason"),
    )
