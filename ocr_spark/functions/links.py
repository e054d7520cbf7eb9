"""Outlink harvesting and URL resolution expressions.

The extraction tier's other output besides main text: the link graph.
Every crawl pipeline needs (page -> outlink) edges for frontier
scheduling, host-level politeness, spam/linkfarm detection, and
PageRank-style quality priors. Reference analog: the reference walks a
document's internal structure and emits one row per discovered region
(structure_analysis in its predict pipeline); here the discovered
structure is the anchor set and the emitted rows are resolved edges.

Everything is a pure JVM expression (``regexp_extract_all`` +
conditional concat) over the already-decoded HTML string — zero Python,
zero shuffle, streaming-safe — with byte-identical ANSI-SQL twins
(RE2-safe pattern subset, no lookaround / backreferences).

Scope policy (documented, as with ``functions/urls.py``): hrefs in
double quotes only (the overwhelmingly dominant form in real crawl HTML
and the only form the WARC-lite synth emits); unquoted/single-quoted
hrefs are a tokenizer-level concern the DOM parser handles on the text
path. Resolution implements the RFC 3986 cases that occur in crawl
data: absolute, scheme-relative (``//host/…``), root-relative,
fragment-only (dropped: same-document), and path-relative against the
base URL's directory. ``..`` segment normalization is not applied (a
policy shared by CommonCrawl's WAT extractor, which records the raw
resolved form).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .urls import url_host, url_scheme

# RE2 == Java-regex on this subset. Group 1 is the raw href.
HREF_RE = r'<a\s[^>]*href="([^"]*)"'
# Whole well-formed anchor tag (open tag + text + literal closing </a):
# matched as group 0 so href and anchor text are pulled from the SAME
# tag and can never mis-pair. The '</a' terminator (not just any '<') is
# what rejects self-closing anchors — a bare '<' would match them with
# the following tag's text AND consume that tag's '<', dropping it from
# the harvest entirely (pinned by test_anchor_pairs_never_mispair).
ANCHOR_TAG_RE = r'<a\s[^>]*href="[^"]*"[^>]*>[^<]*</a'


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_hrefs() -> Column:
    """array<string> of raw href attribute values of the ``html_text``
    column, document order."""
    return F.regexp_extract_all(F.col("html_text"), F.lit(HREF_RE), F.lit(1))


def anchor_pairs() -> Column:
    """array<struct<href, anchor>> of the ``html_text`` column over
    WELL-FORMED anchors only
    (``<a href="...">text</a>``): each whole tag is matched first
    (group 0), then href and text are extracted from that one tag, so
    the two can never mis-pair the way independently-extracted parallel
    arrays would on a page mixing closed and self-closing anchors."""
    tags = F.regexp_extract_all(F.col("html_text"), F.lit(ANCHOR_TAG_RE), F.lit(0))
    return F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, HREF_RE, 1).alias("href"),
            F.regexp_extract(t, r">([^<]*)<", 1).alias("anchor"),
        ),
    )


def resolve_href(base_url, href) -> Column:
    """Resolve a raw href against its page URL. NULL for fragment-only
    and empty hrefs (same-document references, not edges) and for
    non-fetchable schemes (mailto:, javascript:, data:, tel:)."""
    base, h = _col(base_url), _col(href)
    scheme = url_scheme(base)
    host = url_host(base)
    origin = F.concat(scheme, F.lit("://"), host)
    # base directory: path up to (excluding) the last '/' segment; the
    # scheme-anchored extract mirrors urls.url_path but keeps '' for
    # root so dir-join below never doubles slashes
    path = F.regexp_extract(base, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    base_dir = F.regexp_replace(path, r"/[^/]*$", "")
    has_scheme = h.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")
    fetchable = h.rlike(r"^(https?):")
    return (
        F.when((h == "") | h.startswith("#"), F.lit(None).cast("string"))
        .when(has_scheme & ~fetchable, F.lit(None).cast("string"))
        .when(fetchable, h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.concat(origin, base_dir, F.lit("/"), h))
    )


def strip_fragment(url) -> Column:
    """Drop the #fragment from a resolved URL (edges are per-document)."""
    return F.regexp_replace(_col(url), r"#.*$", "")


def meta_content(html_text, name: str) -> Column:
    """content="..." of <meta name="NAME" ...>, '' when absent. The
    name-first attribute order only (the form every major generator
    emits and the synth produces); content-first is out of scope like
    single-quoted hrefs."""
    pat = r'<meta\s[^>]*name="' + name + r'"[^>]*content="([^"]*)"'
    return F.regexp_extract(_col(html_text), pat, 1)


def canonical_link() -> Column:
    """href of <link rel="canonical" ...> in the ``html_text`` column, ''
    when absent."""
    return F.regexp_extract(
        F.col("html_text"), r'<link\s[^>]*rel="canonical"[^>]*href="([^"]*)"', 1
    )


# ---------------------------------------------------------------------------
# ANSI-SQL (DuckDB) twins — kept next to the Spark expressions so the two
# dialect versions cannot drift apart silently (the functions/urls.py
# convention). {h} = href expr, {u} = base-url expr, {c} = html expr.
# ---------------------------------------------------------------------------

SQL_HREFS = "regexp_extract_all({c}, '<a\\s[^>]*href=\"([^\"]*)\"', 1)"
# whole-tag harvest + per-tag field extraction (anchor_pairs' twins):
# unnest SQL_ANCHOR_TAGS, then apply the two per-tag templates to each
SQL_ANCHOR_TAGS = (
    "regexp_extract_all({c}, '<a\\s[^>]*href=\"[^\"]*\"[^>]*>[^<]*</a', 0)"
)
SQL_TAG_HREF = "regexp_extract({t}, '<a\\s[^>]*href=\"([^\"]*)\"', 1)"
SQL_TAG_ANCHOR = "regexp_extract({t}, '>([^<]*)<', 1)"

# base-URL pieces (mirror functions.urls twins, scheme-anchored)
_SQL_B_SCHEME = "lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
_SQL_B_HOST = (
    "regexp_replace(regexp_replace(lower(regexp_replace(regexp_replace("
    "regexp_extract({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)"
    ", '^[^@]*@', ''), ':[0-9]*$', '')), '\\.$', ''), '^www\\.', '')"
)
_SQL_B_DIR = (
    "regexp_replace(regexp_extract({u},"
    " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/[^/]*$', '')"
)

SQL_RESOLVE_HREF = (
    "CASE WHEN {h} = '' OR {h} LIKE '#%' THEN NULL "
    "WHEN regexp_matches({h}, '^[a-zA-Z][a-zA-Z0-9+.-]*:') "
    "     AND NOT regexp_matches({h}, '^(https?):') THEN NULL "
    "WHEN regexp_matches({h}, '^(https?):') THEN {h} "
    "WHEN {h} LIKE '//%' THEN " + _SQL_B_SCHEME + " || ':' || {h} "
    "WHEN {h} LIKE '/%' THEN "
    + _SQL_B_SCHEME + " || '://' || " + _SQL_B_HOST + " || {h} "
    "ELSE " + _SQL_B_SCHEME + " || '://' || " + _SQL_B_HOST
    + " || " + _SQL_B_DIR + " || '/' || {h} END"
)

SQL_STRIP_FRAGMENT = "regexp_replace({h}, '#.*$', '')"
