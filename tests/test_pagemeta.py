"""page_meta head-extraction operator: crafted-page contracts + plan shape."""

import pytest
from pyspark.sql import Row

from ocr_spark.operators.pagemeta import HEAD_BYTES, page_meta


def _run(spark, html: str | bytes) -> Row:
    payload = html.encode("utf-8") if isinstance(html, str) else html
    df = spark.createDataFrame([("u", payload)], "url string, html binary")
    return page_meta(df).collect()[0]


def test_full_head(spark):
    r = _run(
        spark,
        '<html lang="en"><head><title> A &amp; B </title>'
        '<meta name="description" content="desc here">'
        '<meta property="og:title" content="OG A">'
        '<link rel="canonical" href="https://ex.com/a">'
        '<meta name="robots" content="noindex, nofollow"></head><body>x</body></html>',
    )
    assert r.title == "A & B"
    assert r.meta_description == "desc here"
    assert r.og_title == "OG A"
    assert r.canonical_href == "https://ex.com/a"
    assert r.robots_noindex is True and r.robots_nofollow is True
    assert r.html_lang == "en"


def test_reversed_attr_order_and_single_quotes(spark):
    r = _run(
        spark,
        "<html lang='fr'><head><title>t</title>"
        "<meta content='rev desc' name='description'>"
        "<meta content='rev og' property='og:title'>"
        "<link href='/canon' rel='canonical'></head>",
    )
    assert r.meta_description == "rev desc"
    assert r.og_title == "rev og"
    assert r.canonical_href == "/canon"
    assert r.html_lang == "fr"


def test_absent_fields_are_null_and_robots_default_false(spark):
    r = _run(spark, "<html><head></head><body>no head fields</body></html>")
    assert r.title is None
    assert r.meta_description is None
    assert r.og_title is None
    assert r.canonical_href is None
    assert r.html_lang is None
    # crawler default: indexable/followable, booleans never NULL
    assert r.robots_noindex is False and r.robots_nofollow is False


def test_robots_none_alias_implies_both(spark):
    r = _run(spark, '<head><meta name="robots" content="NONE"></head>')
    assert r.robots_noindex is True and r.robots_nofollow is True


def test_title_whitespace_collapse_and_entities(spark):
    r = _run(spark, "<head><title>\n  x &lt;y&gt; &quot;z&quot; &#39;w&#39;\t q </title></head>")
    assert r.title == "x <y> \"z\" 'w' q"


def test_multiline_title_dotall(spark):
    r = _run(spark, "<head><title>line one\nline two</title></head>")
    assert r.title == "line one line two"


def test_head_bytes_bound(spark):
    # title placed beyond the scanned slice is not found — the bound is real
    pad = HEAD_BYTES - len("<head><title>late</title>")
    assert _run(spark, "<head>" + " " * pad + "<title>late</title></head>").title == "late"
    assert _run(spark, "<head>" + " " * (pad + 1) + "<title>late</title></head>").title is None


def test_case_insensitive_tags(spark):
    r = _run(
        spark,
        '<HEAD><TITLE>caps</TITLE><META NAME="robots" CONTENT="NoIndex"></HEAD>',
    )
    assert r.title == "caps"
    assert r.robots_noindex is True and r.robots_nofollow is False


def test_zero_exchange_zero_python_plan(spark):
    df = spark.createDataFrame([("u", b"<title>t</title>")], "url string, html binary")
    plan = page_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("html", [b"", b"\xff\xfe garbage \x00", b"<not html"])
def test_total_on_garbage(spark, html):
    r = _run(spark, html)
    assert r.robots_noindex is False and r.title is None


# --- jsonld_meta -------------------------------------------------------------

def _jsonld(spark, html: str | bytes):
    from ocr_spark.operators.pagemeta import jsonld_meta

    payload = html.encode("utf-8") if isinstance(html, str) else html
    df = spark.createDataFrame([("u", payload)], "url string, html binary")
    return jsonld_meta(df).collect()[0]


def test_jsonld_object_form(spark):
    r = _jsonld(
        spark,
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://schema.org", "@type": "NewsArticle",'
        ' "headline": "Big News", "datePublished": "2024-03-05T10:00:00Z",'
        ' "author": {"@type": "Person", "name": "Ada L"}}'
        "</script></head><body>x</body></html>",
    )
    assert r.has_jsonld is True
    assert r.jsonld_type == "NewsArticle"
    assert r.headline == "Big News"
    assert r.date_published == "2024-03-05T10:00:00Z"
    assert r.author == "Ada L"


def test_jsonld_array_first_node_wins(spark):
    r = _jsonld(
        spark,
        '<script TYPE="application/ld+json">'
        '[{"@type": "Article", "name": "First"},'
        ' {"@type": "WebPage", "name": "Second"}]</script>',
    )
    assert r.jsonld_type == "Article"
    # headline falls back to name
    assert r.headline == "First"


def test_jsonld_author_forms(spark):
    # bare-string author
    r = _jsonld(
        spark,
        '<script type="application/ld+json">{"author": "Plain Name"}</script>',
    )
    assert r.author == "Plain Name"
    # array-of-objects author
    r = _jsonld(
        spark,
        '<script type="application/ld+json">'
        '{"author": [{"name": "A One"}, {"name": "B Two"}]}</script>',
    )
    assert r.author == "A One"
    # object author WITHOUT a name: NULL, never raw JSON text
    r = _jsonld(
        spark,
        '<script type="application/ld+json">{"author": {"@type": "Org"}}</script>',
    )
    assert r.author is None


def test_jsonld_malformed_and_absent(spark):
    # malformed JSON: block exists (has_jsonld true) but fields are NULL
    r = _jsonld(
        spark,
        '<script type="application/ld+json">{"@type": "Article", </script>',
    )
    assert r.has_jsonld is True and r.jsonld_type is None
    # no block at all: has_jsonld false, row preserved
    r = _jsonld(spark, "<html><body>no structured data</body></html>")
    assert r.has_jsonld is False and r.headline is None
    # other script types don't match
    r = _jsonld(spark, '<script type="text/javascript">{"@type":"x"}</script>')
    assert r.has_jsonld is False


def test_jsonld_multiline_and_first_block_only(spark):
    r = _jsonld(
        spark,
        '<script type="application/ld+json">\n  {\n  "@type": "Recipe",\n'
        '  "name": "Soup"\n  }\n</script>'
        '<script type="application/ld+json">{"@type": "Other"}</script>',
    )
    assert r.jsonld_type == "Recipe" and r.headline == "Soup"


def test_jsonld_zero_exchange_zero_python_plan(spark):
    from ocr_spark.operators.pagemeta import jsonld_meta

    df = spark.createDataFrame([("u", b"<p>x</p>")], "url string, html binary")
    plan = jsonld_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
