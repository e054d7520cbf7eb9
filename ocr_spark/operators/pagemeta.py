"""Head-metadata extraction: structured fields from raw page HTML.

The web-pipeline companion to main-content extraction: title, meta
description, og:title, canonical link, robots-meta directives, and the
declared document language, as PURE JVM expressions (regexp_extract over a
head-bounded slice) — no Python, no shuffle, streaming-safe. The reference's
per-field extraction dialects (one_key_process.py:281-340: one regex/rule
per output field over the recognized text) are replayed here over the raw
markup instead, because on the web the head fields ARE the per-document
structured record.

Downstream uses inside this engine: ``canonical_href`` feeds the
canonical-URL grouping / recrawl resolution family (links.py, latest
capture), ``robots_noindex`` is a filter predicate with the same standing
as robots.txt rules (robots.py), ``html_lang`` cross-checks the heuristic
lang_id, and title/description are retrieval fields for the BM25 index.

Contracts (documented, tested):
- Only the first ``head_bytes`` (default 64 KiB) of the page are scanned —
  bounds regex cost on adversarial pages; all head fields sit there in
  practice.
- Attribute matching accepts single- or double-quoted values and BOTH
  attribute orders (name-then-content and content-then-name) via two
  anchored patterns coalesced; regexes are RE2-safe (no backrefs, no
  lookaround) so the DuckDB twin runs the identical patterns.
- Title is whitespace-collapsed, trimmed, and entity-decoded for the five
  predefined XML entities (&amp; last — the standard single-pass
  approximation; numeric references beyond &#39; are out of scope).
- robots: ``noindex``/``nofollow`` are substring tests over the robots meta
  content; the RFC alias ``none`` implies both. Absent tag => both false
  (the crawler default), never NULL.
- Absent string fields are NULL (via nullif ''), not empty string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEAD_BYTES = 65536

# (?is): case-insensitive + dot-matches-newline; supported by both Java
# regex (Spark) and RE2 (DuckDB). Non-greedy .*? is RE2-safe.
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
_HTML_LANG_RE = r"""(?is)<html[^>]*\slang=["']([^"']+)["']"""


def _meta_content_res(name_attr: str, name_value: str) -> tuple[str, str]:
    """Two RE2-safe patterns for <meta/link>: attr-then-content and
    content-then-attr order."""
    fwd = (
        rf"""(?is)<(?:meta|link)[^>]*\s{name_attr}=["']{name_value}["']"""
        rf"""[^>]*\s(?:content|href)=["']([^"']*)["']"""
    )
    rev = (
        rf"""(?is)<(?:meta|link)[^>]*\s(?:content|href)=["']([^"']*)["']"""
        rf"""[^>]*\s{name_attr}=["']{name_value}["']"""
    )
    return fwd, rev


def _first_match(head: Column, patterns: tuple[str, str]) -> Column:
    fwd, rev = patterns
    return F.coalesce(
        F.nullif(F.regexp_extract(head, fwd, 1), F.lit("")),
        F.nullif(F.regexp_extract(head, rev, 1), F.lit("")),
    )


def decode_entities(c: Column) -> Column:
    """The five predefined entities; &amp; decoded LAST (single pass)."""
    for src, dst in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


def page_meta(df: DataFrame) -> DataFrame:
    """(url, title, meta_description, og_title, canonical_href,
    robots_noindex, robots_nofollow, html_lang) — one row per input row,
    zero exchanges, zero Python."""
    head = F.substring(F.col("html").cast("string"), 1, HEAD_BYTES)
    title_raw = F.nullif(
        F.trim(F.regexp_replace(F.regexp_extract(head, _TITLE_RE, 1), r"\s+", " ")),
        F.lit(""),
    )
    robots = F.lower(
        F.coalesce(_first_match(head, _meta_content_res("name", "robots")), F.lit(""))
    )
    return df.select(
        F.col("url"),
        decode_entities(title_raw).alias("title"),
        _first_match(head, _meta_content_res("name", "description")).alias(
            "meta_description"
        ),
        _first_match(head, _meta_content_res("property", "og:title")).alias("og_title"),
        _first_match(head, _meta_content_res("rel", "canonical")).alias(
            "canonical_href"
        ),
        (robots.contains("noindex") | robots.contains("none")).alias("robots_noindex"),
        (robots.contains("nofollow") | robots.contains("none")).alias(
            "robots_nofollow"
        ),
        F.nullif(F.regexp_extract(head, _HTML_LANG_RE, 1), F.lit("")).alias(
            "html_lang"
        ),
    )


# --- publication-date extraction --------------------------------------------

# Candidate carriers in precedence order (the trafilatura convention):
# explicit article metadata beats markup beats URL-path inference.
_PUBTIME_META = _meta_content_res("property", "article:published_time")
_TIME_RE = r"""(?is)<time[^>]*\sdatetime=["'](\d{4}-\d{2}-\d{2})"""
_URL_DATE_RE = r"/((?:19|20)\d{2})/(\d{2})/(\d{2})/"


def _valid_date(s: Column) -> Column:
    """NULL unless s is a real calendar date — try_to_date rejects
    2024-13-01 / 2024-02-30 in both engines (DuckDB twin: try_cast AS
    DATE), so a regex-shaped-but-impossible date never wins precedence."""
    return F.when(F.try_to_date(s).isNotNull(), s)


def pub_date(df: DataFrame) -> DataFrame:
    """(url, pub_date, pub_source) — publication date per page, or NULLs.

    Precedence: ``article:published_time`` meta > ``<time datetime=>`` >
    a ``/YYYY/MM/DD/`` URL path segment; each candidate must survive a
    calendar-validity gate before it can win. ``pub_date`` is emitted as
    a 'YYYY-MM-DD' string (not DATE) so engine/oracle dtype parity is
    exact. Zero shuffle, zero Python — head-bounded JVM regex like the
    rest of this module.
    """
    head = F.substring(F.col("html").cast("string"), 1, HEAD_BYTES)
    meta_d = _valid_date(F.substring(_first_match(head, _PUBTIME_META), 1, 10))
    time_d = _valid_date(F.nullif(F.regexp_extract(head, _TIME_RE, 1), F.lit("")))
    u = F.col("url")
    url_raw = F.concat_ws(
        "-",
        F.regexp_extract(u, _URL_DATE_RE, 1),
        F.regexp_extract(u, _URL_DATE_RE, 2),
        F.regexp_extract(u, _URL_DATE_RE, 3),
    )
    url_d = _valid_date(F.nullif(url_raw, F.lit("")))
    return df.select(
        F.col("url"),
        F.coalesce(meta_d, time_d, url_d).alias("pub_date"),
        F.when(meta_d.isNotNull(), F.lit("meta"))
        .when(time_d.isNotNull(), F.lit("time"))
        .when(url_d.isNotNull(), F.lit("url"))
        .alias("pub_source"),
    )


# --- JSON-LD structured data -------------------------------------------------

# First <script type="application/ld+json"> block. RE2-safe (no backrefs,
# no lookaround) so the DuckDB twin runs the identical pattern; non-greedy
# body + dot-matches-newline bound the match to ONE script element.
_JSONLD_RE = (
    r"""(?is)<script[^>]*\stype\s*=\s*["']application/ld\+json["']"""
    r"""[^>]*>(.*?)</script>"""
)
# JSON-LD commonly sits past the 64 KiB head slice (publishers inject it
# late in <head> or in <body>), so this scan gets its own, larger bound.
JSONLD_BYTES = 262144


def jsonld_meta(df: DataFrame) -> DataFrame:
    """(url, has_jsonld, jsonld_type, headline, date_published, author) —
    schema.org JSON-LD record per page, NULLs when absent. One row per
    input row (the P7 never-drop contract), zero exchanges, zero Python.

    The first ``application/ld+json`` script block is located with a
    bounded JVM regex; fields come out via ``get_json_object`` (JVM
    JsonPath, codegen-friendly). Semantics, each with a pinned test:

    - a top-level ARRAY (``[{...}, ...]``) means "first node wins" — the
      publisher convention puts the primary entity first;
    - ``headline`` falls back to ``name`` (Article vs Product/WebPage
      vocabularies);
    - ``author`` resolves object (``author.name``), array-of-objects
      (``author[0].name``), and bare-string forms; an author object
      WITHOUT a name yields NULL, never the raw JSON text;
    - malformed JSON inside the script tag yields NULL fields with
      ``has_jsonld`` still true (the block exists; it just doesn't parse
      — get_json_object returns NULL on invalid input), so corpus audits
      can count broken-markup pages separately from unannotated ones;
    - ``date_published`` is the declared string as-is (calendar validity
      is :func:`pub_date`'s contract, not this extractor's).
    """
    page = F.substring(F.col("html").cast("string"), 1, JSONLD_BYTES)
    block = F.nullif(F.trim(F.regexp_extract(page, _JSONLD_RE, 1)), F.lit(""))
    # top-level array -> take the first node (compact JSON text back out
    # of the path engine re-parses identically on both engines)
    obj = F.when(block.startswith("["), F.get_json_object(block, "$[0]")).otherwise(
        block
    )
    author_scalar = F.get_json_object(obj, "$['author']")
    return df.select(
        F.col("url"),
        block.isNotNull().alias("has_jsonld"),
        F.get_json_object(obj, "$['@type']").alias("jsonld_type"),
        F.coalesce(
            F.get_json_object(obj, "$['headline']"),
            F.get_json_object(obj, "$['name']"),
        ).alias("headline"),
        F.get_json_object(obj, "$['datePublished']").alias("date_published"),
        F.coalesce(
            F.get_json_object(obj, "$['author']['name']"),
            F.get_json_object(obj, "$['author'][0]['name']"),
            F.when(
                ~author_scalar.startswith("{") & ~author_scalar.startswith("["),
                author_scalar,
            ),
        ).alias("author"),
    )
