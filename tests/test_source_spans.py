"""Source-span contract of the extraction path (north_rule: "matching the
reference's extracted text/spans per document").

Span definition (core.htmlparse.Block docstring): [src_start, src_end) char
offsets into the DECODED html covering the block's first-to-last text chunk.
Invariants pinned here:

  1. exact offsets on crafted HTML (entities, inline tags, bare '<',
     rawtext subtrees between chunks);
  2. bounds + strict monotonic non-overlap across every synthetic fixture
     family (the same corpus the byte-identity golden gate uses);
  3. reconstruction: joining block_text over block_idx with one LF is
     byte-identical to extract_record's text — the span path and the text
     path cannot drift;
  4. re-deriving each block's text from its span substring (tags stripped,
     entities decoded, normalize_inline) matches block_text on fixtures
     without rawtext inside kept blocks;
  5. the distributed operator never drops a url: non-HTML branches emit
     exactly one NULL-span row.
"""

import re

import pytest

from ocr_spark.core.extract import _decode, extract_record, extract_span_rows
from ocr_spark.core.htmlparse import extract_blocks, extract_kept_blocks_cascade
from ocr_spark.core.normalize import normalize_inline
from ocr_spark.core.synth import gen_page

N = 400


def test_exact_spans_crafted():
    h = '<div><p> hello &amp; <b>world</b> </p><h1>Title</h1><p>x</p></div>'
    blocks = extract_blocks(h)
    by_text = {b.text: b for b in blocks}
    hello = by_text["hello & world"]
    # first chunk ' hello &amp; ' starts after '<p>'; last chunk ' ' ends at '</p>'
    assert (hello.src_start, hello.src_end) == (h.index("<p>") + 3, h.index("</p>"))
    title = by_text["Title"]
    assert h[title.src_start:title.src_end] == "Title"
    assert title.level == 1
    x = by_text["x"]
    assert h[x.src_start:x.src_end] == "x"


def test_bare_lt_is_part_of_span():
    h = "<p>a < b and more text here to pass the floor</p>"
    b = extract_blocks(h)[0]
    assert h[b.src_start:b.src_end] == "a < b and more text here to pass the floor"


def test_rawtext_between_chunks_inside_span():
    # script consumed between two chunks of the same block: span covers both
    h = "<p>first half of the text <script>var x=1;</script> second half here</p>"
    b = extract_blocks(h)[0]
    assert b.text == "first half of the text second half here"
    assert h[b.src_start:b.src_end] == (
        "first half of the text <script>var x=1;</script> second half here"
    )


_TAG_STRIP = re.compile(r"<[^>]*>")


def _respan(html: str, start: int, end: int) -> str:
    from html import unescape

    return normalize_inline(unescape(_TAG_STRIP.sub(" ", html[start:end])))


@pytest.mark.parametrize("i", range(0, N, 7))
def test_span_invariants_on_fixture_corpus(i):
    page = gen_page(i, seed=11)
    html = page["html"]
    if html is None or len(html) == 0 or html[:4] == b"%PDF":
        return
    decoded = _decode(html)
    kept, _ = extract_kept_blocks_cascade(decoded)
    prev_end = 0
    for b in kept:
        assert 0 <= b.src_start < b.src_end <= len(decoded)
        assert b.src_start >= prev_end, "spans must not overlap"
        prev_end = b.src_end
        # tight reconstruction holds when no rawtext subtree sits inside the
        # span (true for every synthetic family; crafted rawtext case above)
        if "<script" not in decoded[b.src_start:b.src_end].lower():
            assert _respan(decoded, b.src_start, b.src_end) == b.text


@pytest.mark.parametrize("i", range(0, N, 7))
def test_span_rows_reconstruct_record_text(i):
    page = gen_page(i, seed=11)
    rows = extract_span_rows(page["url"], page["html"], page["text"], page["lang"])
    rec = extract_record(page["url"], page["html"], page["text"], page["lang"])
    assert [r["block_idx"] for r in rows] == list(range(len(rows)))
    if rows[0]["span_start"] is None:
        # non-HTML branch: exactly one whole-document row
        assert len(rows) == 1
        assert rows[0]["block_text"] == rec["text"]
    else:
        joined = "\n".join(r["block_text"] for r in rows)
        assert joined.encode("utf-8") == rec["text"].encode("utf-8")


def test_null_span_branches():
    assert extract_span_rows("u", None, "fallback body", "en") == [
        {
            "url": "u", "block_idx": 0, "span_start": None, "span_end": None,
            "block_text": "fallback body", "heading": False,
        }
    ]
    rows = extract_span_rows("u", b"", None, "en")
    assert len(rows) == 1 and rows[0]["block_text"] == ""


def test_operator_never_drops_a_url(spark):
    from ocr_spark.operators.extract_op import extract_page_spans
    from ocr_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 200)
    out = extract_page_spans(pages)
    urls = {r.url for r in out.select("url").distinct().collect()}
    assert len(urls) == 200
