"""Robots group-aware parser/filter and per-group sampling caps."""

from ocr_spark.operators import sampling
from ocr_spark.operators.robots import robots_disallow_rules, robots_filter
from ocr_spark.operators.sampling import cap_per_group


def test_robots_rules_group_aware(spark):
    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: *\nDisallow: /admin\nDisallow:\n"
             "User-agent: badbot\nDISALLOW: /secret\nCrawl-delay: 10"),
            ("b.com", "# comments only\nSitemap: https://b.com/map.xml"),
        ],
        "host string, robots_txt string",
    )
    rules = {(r["host"], r["prefix"]) for r in robots_disallow_rules(robots).collect()}
    # group-aware: the badbot group's /secret does NOT apply to '*' (the
    # round-2 conservative reading over-blocked here); empty Disallow and
    # non-rule lines don't contribute; b.com contributes nothing
    assert rules == {("a.com", "/admin")}


def test_robots_group_fold_edges(spark):
    robots = spark.createDataFrame(
        [
            ("s.com",
             # ungrouped rule (before any UA line): ignored per RFC 9309
             "Disallow: /orphan\n"
             # stacked UA lines share one group
             "User-agent: alpha\nUser-agent: *\nDisallow: /shared\n\n"
             "User-agent: beta\nDisallow: /beta-only"),
        ],
        "host string, robots_txt string",
    )
    # the stacked alpha/* group is a '*' group; beta's is not
    star = {r["prefix"] for r in robots_disallow_rules(robots).collect()}
    assert star == {"/shared"}


def test_robots_filter_prefix_semantics(spark):
    urls = spark.createDataFrame(
        [
            (0, "https://a.com/admin/panel"),   # blocked (prefix /admin)
            (1, "https://a.com/administrator"), # blocked (prefix match is raw)
            (2, "https://a.com/public"),        # allowed
            (3, "https://b.com/admin"),         # allowed (no rules for b.com)
        ],
        "doc_id long, url string",
    )
    rules = spark.createDataFrame([("a.com", "/admin")], "host string, prefix string")
    got = {r["doc_id"]: r["allowed"] for r in robots_filter(urls, rules).collect()}
    assert got == {0: False, 1: False, 2: True, 3: True}


def test_cap_per_group_deterministic_and_bounded(spark, monkeypatch):
    monkeypatch.setattr(sampling, "CAP_PER_GROUP", 5)
    rows = [(i, f"h{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = cap_per_group(df).toPandas()
    kept = out[out.kept]
    assert len(out) == 60                       # nothing silently filtered
    assert kept.groupby("host").size().max() == 5
    again = cap_per_group(df.repartition(7)).toPandas()
    a = sorted(map(tuple, out[["doc_id", "cap_rank", "kept"]].values.tolist()))
    b = sorted(map(tuple, again[["doc_id", "cap_rank", "kept"]].values.tolist()))
    assert a == b


def test_cap_per_group_ranks_dense(spark):
    df = spark.createDataFrame([(i, "x") for i in range(10)], "doc_id long, host string")
    out = cap_per_group(df).toPandas()
    assert sorted(out.cap_rank) == list(range(1, 11))


def test_robots_crlf_lines_parse_clean(spark):
    """HTTP-fetched robots.txt is CRLF; prefixes must not carry \\r
    (Spark trim strips spaces only — a trailing \\r would defeat every
    rule silently)."""
    robots = spark.createDataFrame(
        [("c.com", "User-agent: *\r\nDisallow: /admin\r\nDisallow: /x\r\n")],
        "host string, robots_txt string",
    )
    rules = {(r["host"], r["prefix"]) for r in robots_disallow_rules(robots).collect()}
    assert rules == {("c.com", "/admin"), ("c.com", "/x")}

    urls = spark.createDataFrame([(0, "https://c.com/admin/p")], "doc_id long, url string")
    got = robots_filter(urls, robots_disallow_rules(robots)).first()
    assert got["allowed"] is False


def test_crawl_delays_group_aware(spark):
    from ocr_spark.operators.robots import robots_crawl_delays

    robots = spark.createDataFrame(
        [
            # badbot's lower delay must not leak into '*' traffic
            ("a.com",
             "User-agent: *\nCrawl-delay: 2.5\n"
             "User-agent: badbot\nCrawl-delay: 0.1"),
            # delay only in an agent-specific group: '*' traffic has none
            ("b.com", "User-agent: fastbot\nCrawl-delay: 0.5"),
            # ungrouped delay (before any UA line): ignored per the fold
            ("c.com", "Crawl-delay: 9\nUser-agent: *\nDisallow: /x"),
            # non-numeric and negative values are dropped, not zeroed
            ("d.com", "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -1"),
        ],
        "host string, robots_txt string",
    )
    star = {(r["host"], r["crawl_delay_s"])
            for r in robots_crawl_delays(robots).collect()}
    assert star == {("a.com", 2.5)}


def test_crawl_delays_min_across_groups_and_crlf(spark):
    from ocr_spark.operators.robots import robots_crawl_delays

    robots = spark.createDataFrame(
        [
            # two '*' groups with different delays: the minimum wins
            ("m.com",
             "User-agent: *\r\nCrawl-delay: 7\r\n\r\n"
             "User-agent: *\r\nCrawl-delay: 3\r\n"),
        ],
        "host string, robots_txt string",
    )
    got = robots_crawl_delays(robots).collect()
    assert [(r["host"], r["crawl_delay_s"]) for r in got] == [("m.com", 3.0)]


def test_crawl_delays_feed_fetch_schedule(spark):
    """The robots -> frontier composition: declared delays space the
    schedule, undeclared hosts take the default via the left join."""
    from ocr_spark.operators.frontier import fetch_schedule
    from ocr_spark.operators.robots import robots_crawl_delays

    robots = spark.createDataFrame(
        [("slow.com", "User-agent: *\nCrawl-delay: 10")],
        "host string, robots_txt string",
    )
    cands = spark.createDataFrame(
        [("slow.com", "https://slow.com/a", 1),
         ("slow.com", "https://slow.com/b", 2),
         ("fast.com", "https://fast.com/a", 1),
         ("fast.com", "https://fast.com/b", 2)],
        "host string, url string, priority int",
    )
    sched = {
        (r["host"], r["url"]): r["scheduled_at_s"]
        for r in fetch_schedule(cands, robots_crawl_delays(robots)).collect()
    }
    # higher priority first -> slot 0 at t=0; slot 1 spaced by the delay
    assert sched[("slow.com", "https://slow.com/b")] == 0.0
    assert sched[("slow.com", "https://slow.com/a")] == 10.0
    assert sched[("fast.com", "https://fast.com/a")] == 2.0   # the default delay


def test_robots_sitemaps_global_directive(spark):
    from ocr_spark.operators.robots import robots_sitemaps

    robots = spark.createDataFrame(
        [
            # ungrouped, inside a foreign group, repeated, CRLF, mixed case:
            # all count once; relative and empty values are dropped
            ("a.com",
             "Sitemap: https://a.com/map.xml\r\n"
             "User-agent: badbot\nDisallow: /\n"
             "SITEMAP: https://a.com/news.xml\n"
             "Sitemap: https://a.com/map.xml\n"
             "Sitemap: /relative.xml\nSitemap:"),
            ("b.com", "User-agent: *\nDisallow: /x"),
        ],
        "host string, robots_txt string",
    )
    got = {(r["host"], r["sitemap_url"]) for r in robots_sitemaps(robots).collect()}
    assert got == {
        ("a.com", "https://a.com/map.xml"),
        ("a.com", "https://a.com/news.xml"),
    }
