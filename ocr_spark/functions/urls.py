"""URL parsing and canonicalization expressions.

Crawl pipelines key almost everything on URLs: dedup before fetch,
host-level politeness and skew handling, domain-level quality priors.
These are pure JVM expressions (regexp_extract / regexp_replace /
higher-order array ops — RE2-safe patterns only, no lookaround) with
byte-identical ANSI-SQL twins, so every derived column is oracle-checkable.

Canonicalization policy (the common crawl-dedup convention, documented
because it IS a policy choice): lowercase scheme+host, strip userinfo,
ports, fragments and a leading ``www.``, default the empty path to ``/``,
drop ``utm_*`` tracking params, and sort the remaining query params so
param order never splits a dedup key. ``registered_domain`` is the naive
last-two-labels grouping key (a full public-suffix list is a data file,
not a parser change; documented out of scope).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def url_scheme(c) -> Column:
    """Lowercased scheme, '' when absent."""
    return F.lower(F.regexp_extract(_col(c), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))


def url_authority(c) -> Column:
    """Raw authority (may carry userinfo/port), '' when absent. Anchored
    to a LEADING scheme so a schemeless/relative input carrying an
    embedded absolute URL ('/redirect?to=http://evil.com/') never yields
    the embedded host as its authority."""
    return F.regexp_extract(
        _col(c), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1
    )


def url_host(c) -> Column:
    """Canonical host: authority minus userinfo and port, lowercased,
    trailing dot and leading ``www.`` stripped."""
    h = F.regexp_replace(url_authority(c), r"^[^@]*@", "")
    h = F.lower(F.regexp_replace(h, r":[0-9]*$", ""))
    h = F.regexp_replace(h, r"\.$", "")
    return F.regexp_replace(h, r"^www\.", "")


def url_path(c) -> Column:
    """Path component; '/' when empty. Scheme-anchored like
    ``url_authority`` so embedded URLs in relative inputs don't donate a
    path."""
    p = F.regexp_extract(
        _col(c), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query(c) -> Column:
    """Raw query string (no '?'), '' when absent. The leading ``[^?#]*``
    anchors on the FIRST '?' before any fragment: a greedy ``[^#]*``
    would re-anchor on a literal '?' inside the query (legal per RFC
    3986) and drop every param before it, and a bare ``\\?([^#]*)``
    would match a '?' inside the fragment ('/p#frag?x=1') and leak
    fragment content into the canonical query."""
    return F.regexp_extract(_col(c), r"^[^?#]*\?([^#]*)", 1)


def url_query_canonical(c) -> Column:
    """Query with utm_* params dropped and the rest sorted."""
    parts = F.filter(
        F.split(url_query(c), "&"),
        lambda x: (x != "") & ~x.startswith("utm_"),
    )
    return F.array_join(F.array_sort(parts), "&")


def registered_domain() -> Column:
    """Last two host labels of ``url`` ('example.org'); the whole host when
    it has fewer than two labels."""
    h = url_host("url")
    d = F.regexp_extract(h, r"[^.]+\.[^.]+$", 0)
    return F.when(d == "", h).otherwise(d)


def url_canonicalize(c) -> Column:
    """scheme://host/path[?sorted-query] under the module's policy."""
    q = url_query_canonical(c)
    return F.concat(
        url_scheme(c),
        F.lit("://"),
        url_host(c),
        url_path(c),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


# --- exact SQL twins (DuckDB dialect; kept adjacent so drift is visible) ---

SQL_URL_SCHEME = "lower(regexp_extract({c}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
_SQL_AUTH = "regexp_extract({c}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)"
SQL_URL_HOST = (
    "regexp_replace(regexp_replace(lower(regexp_replace(regexp_replace("
    + _SQL_AUTH
    + ", '^[^@]*@', ''), ':[0-9]*$', '')), '\\.$', ''), '^www\\.', '')"
)
SQL_URL_PATH = (
    "CASE WHEN regexp_extract({c}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    " = '' THEN '/' "
    "ELSE regexp_extract({c}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END"
)
SQL_URL_QUERY = "regexp_extract({c}, '^[^?#]*\\?([^#]*)', 1)"
SQL_URL_QUERY_CANON = (
    # coalesce: DuckDB's array_to_string yields NULL (not '') on an empty list
    "coalesce(array_to_string(list_sort([p for p in string_split("
    + SQL_URL_QUERY
    + ", '&') if p <> '' AND NOT starts_with(p, 'utm_')]), '&'), '')"
)
SQL_REGISTERED_DOMAIN = (
    "CASE WHEN regexp_extract(" + SQL_URL_HOST + ", '[^.]+\\.[^.]+$', 0) = ''"
    " THEN " + SQL_URL_HOST
    + " ELSE regexp_extract(" + SQL_URL_HOST + ", '[^.]+\\.[^.]+$', 0) END"
)
SQL_URL_CANON = (
    SQL_URL_SCHEME
    + " || '://' || "
    + SQL_URL_HOST
    + " || "
    + SQL_URL_PATH
    + " || CASE WHEN "
    + SQL_URL_QUERY_CANON
    + " = '' THEN '' ELSE '?' || "
    + SQL_URL_QUERY_CANON
    + " END"
)


def url_page_type(c) -> Column:
    """Crawl-curation page-type classification from URL shape alone — the
    standard frontier-pruning heuristic (search results, paginated
    listings, tag/category indexes, calendar archives, feeds, and media
    assets are crawl-budget sinks and near-empty extraction targets;
    date-slugged or hyphen-slugged paths are the article pages a corpus
    wants). Deterministic first-match cascade over RE2-safe expressions
    on the parsed path/query. The classes, in precedence order (first
    match wins; a /tag/x/page/3 listing IS pagination: it's the paginated
    tail a crawler prunes first): search, pagination, tag_listing,
    calendar, feed, media, article, home, other.

    This is a POLICY stack, disclosed as such: real deployments tune the
    lists (search param names, media extensions) per crawl; the cascade
    mechanism and its SQL-twin checkability are the contract."""
    path = url_path(c)
    q = url_query(c)
    last_seg = F.regexp_extract(path, r"([^/]+)/?$", 1)
    return (
        F.when(q.rlike(r"(^|&)(q|s|query|search)="), F.lit("search"))
        .when(
            path.rlike(r"/page/[0-9]+/?$")
            | q.rlike(r"(^|&)(page|p)=[0-9]+"),
            F.lit("pagination"),
        )
        .when(
            path.rlike(r"/(tag|tags|category|categories|label)(/|$)"),
            F.lit("tag_listing"),
        )
        .when(path.rlike(r"^/[0-9]{4}/[0-9]{2}/?$"), F.lit("calendar"))
        .when(path.rlike(r"(/feed/?|\.rss|\.atom)$"), F.lit("feed"))
        .when(
            path.rlike(r"\.(jpg|jpeg|png|gif|webp|pdf|zip|mp3|mp4)$"),
            F.lit("media"),
        )
        .when(
            path.rlike(r"/[0-9]{4}/[0-9]{2}/[0-9]{2}/[^/]+")
            | last_seg.rlike(r"^[a-z0-9]+(-[a-z0-9]+){2,}(\.html)?$"),
            F.lit("article"),
        )
        .when(path == "/", F.lit("home"))
        .otherwise(F.lit("other"))
    )
