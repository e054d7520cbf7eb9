"""Robots-rules filtering for crawl pipelines.

Before a page enters the corpus, pipelines honor (or at least audit
against) the host's robots.txt. This module implements the GROUP-AWARE
reading of RFC 9309 for the ``*`` agent: lines fold into user-agent
groups (one or more stacked ``User-agent:`` lines followed by rules), and
only the groups that name ``*`` govern — a group naming some other agent
never applies. Rules appearing before any ``User-agent:`` line belong to
no group and are ignored, per the RFC.

The fold is still pure expressions — the per-line "state machine" is a
host-partitioned running sum over the exploded lines (a UA line STARTS a
new group iff the previous line is not itself a UA line, so stacked UA
lines share a group) — with an exact SQL twin.

Matching is prefix-based on the url path (the robots.txt core rule);
empty ``Disallow:`` lines mean allow-everything and are dropped. The
rules table is hosts x rules — vocabulary-sized — so the group fold's
windows (partitioned by host over robots.txt lines) and the filter join
stay trivially cheap at any corpus scale, and the join side broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import url_host, url_path


def _grouped_lines(robots: DataFrame) -> DataFrame:
    """(host, pos, lt, is_ua, gid): the RFC 9309 group fold of
    ``robots_txt`` per ``host``. Lines split
    on ``\\r?\\n``: robots.txt fetched over HTTP is almost always CRLF,
    and Spark's ``trim`` strips spaces only — splitting on bare ``\\n``
    would leave a trailing ``\\r`` on every value and silently defeat
    every rule (pinned by the CRLF test)."""
    lines = robots.select(
        F.col("host"),
        F.posexplode(F.split(F.col("robots_txt"), "\r?\n")).alias("pos", "line"),
    )
    lt = F.trim("line")
    w = Window.partitionBy("host").orderBy("pos")
    return (
        lines.select("host", "pos", lt.alias("lt"))
        .withColumn("is_ua", F.lower("lt").startswith("user-agent:"))
        .withColumn(
            # stacked User-agent lines share one group: a UA line starts a
            # group only when the previous line is not itself a UA line
            "starts_group",
            F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
        )
        .withColumn("gid", F.sum(F.col("starts_group").cast("long")).over(w))
    )


def _applicable_groups(marked: DataFrame) -> DataFrame:
    """(host, gid) of the ``*`` groups."""
    # strip the directive head by length, not split-on-colon — values may
    # legally contain ':' and must survive intact
    ua_val = F.lower(F.trim(F.substring(F.col("lt"), 12, 1 << 20)))
    uas = marked.where("is_ua").select("host", "gid", ua_val.alias("ua"))
    return uas.where(F.col("ua") == "*").select("host", "gid").distinct()


def robots_disallow_rules(robots: DataFrame) -> DataFrame:
    """(host, prefix) for every non-empty Disallow directive in the ``*``
    user-agent group(s) (see :func:`_grouped_lines` for the line/group
    fold and the CRLF contract)."""
    marked = _grouped_lines(robots)
    applicable = _applicable_groups(marked)
    prefix = F.trim(F.substring(F.col("lt"), 10, 1 << 20))
    dis = (
        marked.where(F.lower("lt").startswith("disallow:"))
        .select("host", "gid", prefix.alias("prefix"))
        .where(F.col("prefix") != "")
    )
    # gid 0 = rules before any User-agent line: never joins (groups start
    # at 1), which IS the RFC's "ignore ungrouped rules"
    return dis.join(applicable, ["host", "gid"]).select("host", "prefix").distinct()


def robots_filter(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """urls + (host, path, allowed): allowed=false when any of the host's
    disallow prefixes is a prefix of the url path. Anti-join shape with
    the rules side broadcast (hosts x rules is vocabulary-sized)."""
    u = urls.withColumn("host", url_host("url")).withColumn(
        "path", url_path("url")
    )
    hit = (
        u.select("host", "path")
        .distinct()
        .join(F.broadcast(rules), "host")
        .where(F.col("path").startswith(F.col("prefix")))
        .select("host", "path")
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return (
        u.join(hit, ["host", "path"], "left")
        .withColumn("allowed", F.col("blocked").isNull())
        .drop("blocked")
    )


def robots_crawl_delays(robots: DataFrame) -> DataFrame:
    """(host, crawl_delay_s) for every host whose ``*`` group(s) declare a
    ``Crawl-delay``; hosts without one are simply absent (the
    frontier's left join supplies the default — operators/frontier.py).

    Crawl-delay is the de-facto extension (not in RFC 9309) that
    :func:`frontier.fetch_schedule` consumes: this function closes the
    robots.txt -> politeness-schedule loop. Group membership follows the
    same fold as Disallow — an agent-specific group's delay must not leak
    into ``*`` traffic. Values that do not parse as a
    non-negative number are dropped (cast -> NULL), and when several
    governing groups declare different delays the MINIMUM wins: the
    schedule built from it is the densest the host has sanctioned under
    any applicable reading, and a tighter-than-necessary delay is always
    polite. Vocabulary-sized all the way down (hosts x robots lines)."""
    marked = _grouped_lines(robots)
    applicable = _applicable_groups(marked)
    # 'crawl-delay:' is 12 chars -> value starts at 13 (1-based substring);
    # try_cast, not cast: ANSI mode must not let one 'Crawl-delay: soon'
    # line abort the whole job — malformed means dropped
    val = F.trim(F.substring(F.col("lt"), 13, 1 << 20)).try_cast("double")
    delays = (
        marked.where(F.lower("lt").startswith("crawl-delay:"))
        .select("host", "gid", val.alias("crawl_delay_s"))
        .where(F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") >= 0))
    )
    # gid 0 (ungrouped lines) never joins, same as Disallow
    return (
        delays.join(applicable, ["host", "gid"])
        .groupBy("host")
        .agg(F.min("crawl_delay_s").alias("crawl_delay_s"))
    )


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """(host, sitemap_url) for every ``Sitemap:`` directive.

    Sitemap is a GLOBAL directive (sitemaps.org protocol; RFC 9309 calls
    these "other records"): it applies regardless of user-agent group, so
    the group fold is deliberately skipped — a Sitemap line before any
    User-agent line, or inside a group naming some other agent, still
    counts. This is the discovery seam feeding
    :func:`sources.sitemap.parse_sitemap_entries` -> recrawl planning.
    Absolute URLs are kept as declared (the protocol requires them to be
    absolute; relative values are dropped rather than guessed at).
    Distinct per (host, url): robots.txt files routinely repeat the line
    per group."""
    lines = robots.select(
        F.col("host"),
        F.explode(F.split(F.col("robots_txt"), "\r?\n")).alias("line"),
    )
    lt = F.trim("line")
    # 'sitemap:' is 8 chars -> value starts at 9 (1-based substring)
    url = F.trim(F.substring(lt, 9, 1 << 20))
    return (
        lines.where(F.lower(lt).startswith("sitemap:"))
        .select("host", url.alias("sitemap_url"))
        .where(F.col("sitemap_url").rlike("(?i)^https?://"))
        .distinct()
    )
