"""Markdown rendering path: parser context stamping, renderer goldens,
round-trip vs the text path, and the distributed operator contract."""

import pytest

from ocr_spark.core.extract import extract_markdown_record, extract_record
from ocr_spark.core.htmlparse import extract_blocks, extract_kept_blocks_cascade
from ocr_spark.core.markdown import block_to_markdown, blocks_to_markdown


def markdown_to_text(md: str) -> str:
    """Strip the rendering back off: the round-trip oracle.
    Exact inverse of :func:`blocks_to_markdown` for blocks produced by the
    extraction cascade (block text never starts with a marker the renderer
    adds, because ``normalize_inline`` strips leading whitespace but keeps
    content chars — a literal leading '#' in content is ambiguous and
    therefore NOT claimed; these tests pin the cascade outputs, not
    arbitrary markdown)."""
    out = []
    for blk in md.split("\n\n"):
        while blk[:2] == "> ":
            blk = blk[2:]
        if blk[:2] == "- ":
            blk = blk[2:]
        else:
            i = 0
            while i < len(blk) and blk[i] == "#":
                i += 1
            if 0 < i <= 6 and blk[i : i + 1] == " ":
                blk = blk[i + 1 :]
        out.append(blk)
    return "\n".join(out)


# --- parser context stamping -------------------------------------------------


def test_heading_levels_stamped():
    html = "<body><h1>One</h1><h3>Three</h3><h6>Six</h6><p>para</p></body>"
    blocks = extract_blocks(html)
    got = {b.text: b.level for b in blocks}
    assert got == {"One": 1, "Three": 3, "Six": 6, "para": 0}


def test_level_stamped_adversarial():
    """`level` (a heading is level > 0) comes from the open-block stack at
    flush time, including after stray closes, nesting violations, and text
    outside any block."""
    cases = {
        "<h2>a<div>b</h2>c</div>tail": [("a", 2), ("b", 0), ("ctail", 0)],
        "<h1><span>x</span>y</h1>z": [("xy", 1), ("z", 0)],
        "loose text <h4>h</h4> more": [("loose text", 0), ("h", 4), ("more", 0)],
        "<li><h2>heading in li</h2>item</li>": [("heading in li", 2), ("item", 0)],
        "</h3>stray<h3>real</h3>": [("stray", 0), ("real", 3)],
        "<blockquote><h2>quoted h</h2><p>quoted p</p></blockquote>":
            [("quoted h", 2), ("quoted p", 0)],
    }
    for html, want in cases.items():
        assert [(b.text, b.level) for b in extract_blocks(html)] == want, html


def test_list_and_quote_context():
    html = ("<ul><li>first</li><li>second</li></ul>"
            "<blockquote><p>wise words that are long enough to keep here ok"
            "</p></blockquote><p>after</p>")
    ctx = {b.text: (b.list_item, b.quote) for b in extract_blocks(html)}
    assert ctx["first"] == (True, False)
    assert ctx["second"] == (True, False)
    assert ctx["wise words that are long enough to keep here ok"] == (False, True)
    assert ctx["after"] == (False, False)


# --- renderer ---------------------------------------------------------------


def test_render_goldens():
    html = ("<body><h2>Title</h2>"
            "<p>A paragraph long enough to clear the keep threshold easily."
            "</p><ul><li>item one is long enough to clear the threshold too"
            "</li></ul></body>")
    kept, strategy = extract_kept_blocks_cascade(html)
    assert strategy == "strict"
    md = blocks_to_markdown(kept)
    assert md == (
        "## Title\n\n"
        "A paragraph long enough to clear the keep threshold easily.\n\n"
        "- item one is long enough to clear the threshold too"
    )


def test_quote_prefix_composes_with_heading_and_list():
    from ocr_spark.core.htmlparse import Block

    assert block_to_markdown(Block(text="t", level=2, quote=True)) == "> ## t"
    assert block_to_markdown(Block(text="t", list_item=True, quote=True)) == "> - t"
    assert block_to_markdown(Block(text="t", level=7)) == "###### t"  # capped


@pytest.mark.parametrize("html", [
    "<body><h1>H</h1><p>a paragraph that is definitely long enough to keep"
    "</p></body>",
    "<ul><li>list item text that is long enough to clear the threshold ok"
    "</li></ul>",
    "<blockquote><p>a quoted paragraph that is long enough to keep here"
    "</p></blockquote>",
    "<h3>Only heading</h3>",
])
def test_markdown_roundtrip_reproduces_text_path(html):
    """Stripping the rendering reproduces the text path byte-for-byte —
    the two extraction outputs cannot drift."""
    kept, _ = extract_kept_blocks_cascade(html)
    md = blocks_to_markdown(kept)
    text = "\n".join(b.text for b in kept)
    assert markdown_to_text(md) == text


# --- record-level contract ----------------------------------------------------


def test_markdown_record_status_mirrors_text_record():
    cases = [
        ("u1", b"<body><h2>T</h2><p>long enough paragraph to keep for sure"
               b" yes</p></body>", None),
        ("u2", b"", "fallback text"),
        ("u3", None, None),
        ("u4", b"%PDF-garbage", "fb"),
        ("u5", b"<div>x</div>", "fb2"),  # too short: falls back
    ]
    for url, html, text in cases:
        mr = extract_markdown_record(url, html, text, "en")
        tr = extract_record(url, html, text, "en")
        assert mr["extract_status"] == tr["extract_status"], url
        assert mr["content_kind"] == tr["content_kind"], url
        if tr["extract_status"] in ("fallback_text", "empty") or \
                tr["content_kind"] == "pdf":
            assert mr["markdown"] == tr["text"], url


def test_markdown_record_never_raises_never_drops():
    adversarial = [
        b"\xff\xfe\x00bad utf16",
        b"<h1>" * 2000,
        b"</p></p></div><li>stray",
        b"<script>alert(1)</script><h2>ok heading</h2>",
    ]
    for i, html in enumerate(adversarial):
        r = extract_markdown_record(f"u{i}", html, None, "en")
        assert r["url"] == f"u{i}" and isinstance(r["markdown"], str)
        assert "alert(1)" not in r["markdown"]  # script never leaks


# --- distributed operator -----------------------------------------------------


def test_extract_page_markdown_distributed(spark):
    from ocr_spark.operators.extract_op import extract_page_markdown

    rows = [
        ("a", bytearray(b"<body><h2>Title</h2><p>long enough paragraph body "
                        b"to keep around here</p></body>"), None, "en"),
        ("b", None, "plain fallback", "en"),
        ("c", bytearray(b""), None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    import datetime as dt

    from pyspark.sql import functions as F
    pages = df.select(
        "url", F.lit(dt.datetime(2026, 1, 1)).alias("warc_ts"),
        "html", "text", "lang",
    )
    out = {r["url"]: r for r in extract_page_markdown(pages).collect()}
    assert out["a"]["markdown"].startswith("## Title\n\n")
    assert out["a"]["extract_status"] == "ok" and out["a"]["n_blocks"] == 2
    assert out["b"]["markdown"] == "plain fallback"
    assert out["b"]["extract_status"] == "fallback_text"
    assert out["c"]["extract_status"] == "empty"
    assert len(out) == 3  # P7: nothing dropped
