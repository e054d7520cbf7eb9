"""URL parse/canonicalization edge cases (userinfo, ports, trailing dots,
utm stripping, param sorting, schemeless inputs)."""

from ocr_spark.functions import urls as U


def _parse(spark, url):
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(
        U.url_scheme("url").alias("scheme"),
        U.url_host("url").alias("host"),
        U.registered_domain().alias("domain"),
        U.url_path("url").alias("path"),
        U.url_query_canonical("url").alias("q"),
        U.url_canonicalize("url").alias("canon"),
    ).first().asDict()


def test_full_decoration(spark):
    got = _parse(spark, "HTTPS://bot@WWW.News.Example.ORG.:8443/a/B?utm_x=1&z=9&a=2#frag")
    assert got["scheme"] == "https"
    assert got["host"] == "news.example.org"
    assert got["domain"] == "example.org"
    assert got["path"] == "/a/B"
    assert got["q"] == "a=2&z=9"
    assert got["canon"] == "https://news.example.org/a/B?a=2&z=9"


def test_bare_host_defaults(spark):
    got = _parse(spark, "http://example.com")
    assert got["path"] == "/" and got["q"] == ""
    assert got["canon"] == "http://example.com/"


def test_only_utm_params_collapse(spark):
    got = _parse(spark, "http://a.b/p?utm_source=x&utm_medium=y")
    assert got["q"] == "" and got["canon"] == "http://a.b/p"


def test_single_label_host(spark):
    got = _parse(spark, "http://localhost:9000/x")
    assert got["host"] == "localhost" and got["domain"] == "localhost"


def test_schemeless_is_empty_not_crash(spark):
    got = _parse(spark, "not a url at all")
    assert got["scheme"] == "" and got["host"] == ""


def test_param_order_invariance(spark):
    a = _parse(spark, "http://h.x/p?b=2&a=1")["canon"]
    b = _parse(spark, "http://h.x/p?a=1&b=2")["canon"]
    assert a == b == "http://h.x/p?a=1&b=2"


def test_fragment_question_mark_is_not_a_query(spark):
    got = _parse(spark, "https://example.com/p#frag?x=1")
    assert got["q"] == ""
    assert got["canon"] == "https://example.com/p"


def _ptype(spark, url):
    from ocr_spark.functions.urls import url_page_type

    df = spark.createDataFrame([(url,)], "url string")
    return df.select(url_page_type("url").alias("t")).collect()[0]["t"]


def test_page_type_each_class(spark):
    cases = {
        "https://h.x/": "home",
        "https://h.x/2021/07/14/my-first-post": "article",
        "https://h.x/posts/how-to-tune-jobs": "article",
        "https://h.x/tag/spark/": "tag_listing",
        "https://h.x/category/news": "tag_listing",
        "https://h.x/2021/07/": "calendar",
        "https://h.x/blog/feed/": "feed",
        "https://h.x/podcast.rss": "feed",
        "https://h.x/images/photo.jpg": "media",
        "https://h.x/?q=term": "search",
        "https://h.x/list?page=4": "pagination",
        "https://h.x/about": "other",
    }
    for url, want in cases.items():
        assert _ptype(spark, url) == want, url


def test_page_type_precedence_and_garbage(spark):
    # pagination beats tag listing (the paginated tail is pruned first)
    assert _ptype(spark, "https://h.x/tag/spark/page/3/") == "pagination"
    # search beats everything
    assert _ptype(spark, "https://h.x/tag/x/page/2/?q=a") == "search"
    # one-hyphen slug is NOT an article (nav pages like /contact-us)
    assert _ptype(spark, "https://h.x/contact-us") == "other"
    # schemeless garbage classifies (path='/'), never errors
    assert _ptype(spark, "not a url") in ("home", "other")
