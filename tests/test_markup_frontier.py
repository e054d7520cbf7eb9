"""Unit tests for structured markup extraction (functions/markup.py), the
RSS/Atom feed source (sources/feed.py), and the politeness frontier
scheduler (operators/frontier.py) — the edge cases the sf0.01 parity run
can't isolate: unclosed blocks, missing links, guid fallback, delay
defaulting, and the budget cap."""

from ocr_spark.functions.markup import (
    extract_headings,
    extract_sections,
    extract_tables,
)
from ocr_spark.operators.frontier import fetch_schedule
from ocr_spark.sources.feed import parse_feed_items


def _rows(df, *order):
    return [r.asDict() for r in df.orderBy(*order).collect()]


# ---------------------------------------------------------------- tables

def test_extract_tables_structure_headers_and_cleanup(spark):
    html = (
        '<table><tr><th> A </th><th><b>B</b></th></tr>'
        "<tr><td>x\n y</td><td></td></tr></table>"
        '<table class="z"><tr><td>only</td></tr></table>'
    )
    df = extract_tables(spark.createDataFrame([(1, html)], "doc_id long, html string"))
    got = _rows(df, "table_idx", "row_idx", "col_idx")
    assert [
        (r["table_idx"], r["row_idx"], r["col_idx"], r["cell"], r["is_header"])
        for r in got
    ] == [
        (0, 0, 0, "A", True),
        (0, 0, 1, "B", True),
        (0, 1, 0, "x y", False),
        (0, 1, 1, "", False),
        (1, 0, 0, "only", False),
    ]


def test_extract_tables_unclosed_and_missing_emit_no_rows(spark):
    df = extract_tables(
        spark.createDataFrame(
            [(1, "<table><tr><td>orphan"), (2, "<p>no table</p>"), (3, None)],
            "doc_id long, html string",
        )
    )
    assert df.count() == 0


def test_extract_tables_no_shuffle_no_python(spark):
    df = extract_tables(
        spark.createDataFrame([(1, "<table></table>")], "doc_id long, html string")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


# -------------------------------------------------------------- headings

def test_extract_headings_outline_order_levels_empty(spark):
    html = (
        "<h1> Top </h1><p>x</p><h3>Deep <em>e</em></h3>"
        "<h2>After</h2><h6></h6>"
    )
    df = extract_headings(
        spark.createDataFrame([(7, html)], "doc_id long, html string")
    )
    got = [
        (r["pos"], r["level"], r["heading"], r["n_chars"])
        for r in df.orderBy("pos").collect()
    ]
    assert got == [
        (0, 1, "Top", 3),
        (1, 3, "Deep e", 6),
        (2, 2, "After", 5),
        (3, 6, "", 0),
    ]


def test_extract_sections_preamble_bodies_and_empties(spark):
    """Section 0 = preamble (level 0, NULL heading; tag-only -> empty
    text). Back-to-back headings yield an EMPTY kept section; the last
    heading owns the tail; inner tags strip from both heading and body."""
    html = (
        "<div>pre amble</div><h1> Top </h1><p>alpha <b>beta</b></p>"
        "<h3>Deep</h3><h2>After</h2>end bit"
    )
    df = extract_sections(
        spark.createDataFrame([(7, html)], "doc_id long, html string")
    )
    got = [
        (r["section_idx"], r["level"], r["heading"], r["text"], r["n_words"])
        for r in df.orderBy("section_idx").collect()
    ]
    assert got == [
        (0, 0, None, "pre amble", 2),
        (1, 1, "Top", "alpha beta", 2),
        (2, 3, "Deep", "", 0),
        (3, 2, "After", "end bit", 2),
    ]


def test_extract_sections_no_headings_and_null_html(spark):
    """A heading-less page is one whole-document section 0; NULL html is
    a single empty section — one row per input either way (the chunking
    consumer sees every document)."""
    df = extract_sections(
        spark.createDataFrame(
            [(1, "<p>just prose</p>"), (2, None)], "doc_id long, html string"
        )
    )
    got = {r["doc_id"]: r for r in df.collect()}
    assert len(got) == 2
    assert (got[1]["level"], got[1]["heading"], got[1]["text"]) == (
        0, None, "just prose",
    )
    assert (got[2]["text"], got[2]["n_words"]) == ("", 0)


def test_extract_sections_no_shuffle_no_python(spark):
    df = extract_sections(
        spark.createDataFrame([(1, "<h1>t</h1>x")], "doc_id long, html string")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


# ----------------------------------------------------------------- feeds

_RSS = (
    "<rss><channel>"
    "<item><title>ok</title><link>https://h/a/1</link>"
    "<pubDate>Thu, 01 Feb 2024 03:00:00 +0000</pubDate>"
    "<guid>g1</guid></item>"
    "<item><title>no guid</title><link>https://h/a/2</link>"
    "<pubDate>Thu, 01 Feb 2024 04:00:00 +0000</pubDate></item>"
    "<item><title>no link</title>"
    "<pubDate>Thu, 01 Feb 2024 05:00:00 +0000</pubDate></item>"
    "<item><title>bad date</title><link>https://h/a/4</link>"
    "<pubDate>yesterday-ish</pubDate></item>"
    "</channel></rss>"
)

_ATOM = (
    "<feed>"
    '<entry><title>a1</title><link rel="alternate" href="https://h/b/1"/>'
    "<updated>2024-02-01T06:00:00Z</updated><id>tag:1</id></entry>"
    "<entry><title>a2</title><updated>2024-02-01T07:00:00Z</updated>"
    "<id>tag:2</id></entry>"
    "</feed>"
)


def test_parse_feed_items_rss_and_atom(spark):
    feeds = spark.createDataFrame(
        [("h1", _RSS), ("h2", _ATOM)], "host string, feed_xml string"
    )
    got = {
        (r["host"], r["title"] or r["feed_ok"]): r.asDict()
        for r in parse_feed_items(feeds).collect()
    }
    ok = got[("h1", "ok")]
    assert ok["dialect"] == "rss" and ok["guid"] == "g1"
    assert str(ok["item_ts"]) == "2024-02-01 03:00:00"
    # guid-less item falls back to its link
    assert got[("h1", "no guid")]["guid"] == "https://h/a/2"
    # unparseable date -> NULL ts, row kept
    bad = got[("h1", "bad date")]
    assert bad["feed_ok"] and bad["item_ts"] is None
    # link-less rows survive as feed_ok=false with NULL fields (P7)
    dead = [r.asDict() for r in parse_feed_items(feeds).collect()
            if not r["feed_ok"]]
    assert len(dead) == 2  # one per dialect
    assert all(r["link"] is None and r["guid"] is None for r in dead)
    a1 = got[("h2", "a1")]
    assert a1["dialect"] == "atom" and a1["link"] == "https://h/b/1"
    assert str(a1["item_ts"]) == "2024-02-01 06:00:00"


# -------------------------------------------------------------- frontier

def test_fetch_schedule_slots_cap_and_default_delay(spark, monkeypatch):
    from ocr_spark.operators import frontier

    cands = spark.createDataFrame(
        [("a", "u1", 1), ("a", "u2", 9), ("a", "u3", 9), ("b", "v1", 5)],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame([("a", 3.0)], "host string, crawl_delay_s double")
    got = {
        r["url"]: r.asDict()
        for r in fetch_schedule(cands, delays).collect()
    }
    # priority desc, url asc tie-break
    assert got["u2"]["slot"] == 0 and got["u3"]["slot"] == 1
    assert got["u1"]["slot"] == 2 and got["u1"]["scheduled_at_s"] == 6.0
    # host with no declared delay takes the default, never dropped
    assert got["v1"]["slot"] == 0 and got["v1"]["scheduled_at_s"] == 0.0
    monkeypatch.setattr(frontier, "FETCH_MAX_PER_HOST", 2)
    capped = fetch_schedule(cands, delays)
    assert capped.count() == 3  # a truncated to its 2-slot budget + b
    assert "u1" not in {r["url"] for r in capped.collect()}
