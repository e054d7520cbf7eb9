"""Unit tests for the pure-Python extraction core (SURVEY §5 graft strategy:
segmentation, normalization dialects, PDF dispatch, blocklist, P7 semantics).
No Spark session needed — fast."""

import pytest

from ocr_spark.core.extract import extract_record
from ocr_spark.core.htmlparse import extract_blocks, score_blocks
from ocr_spark.core.normalize import normalize_inline, normalize_text
from ocr_spark.core.pdfparse import PdfParseError, extract_pdf_text
from ocr_spark.core.synth import build_pdf

LONG = "word " * 20  # > MIN_BLOCK_CHARS after normalization


class TestNormalize:
    def test_nbsp_and_zero_width(self):
        assert normalize_text("a b​c d") == "a bc d"

    def test_crlf_and_line_edges(self):
        assert normalize_text("  a  b\t\r\nc  \r d ") == "a b\nc\nd"

    def test_paragraph_collapse(self):
        assert normalize_text("a\n\n\n\n\nb") == "a\n\nb"

    def test_controls_deleted(self):
        assert normalize_text("a\x00\x01\x7fb") == "ab"

    def test_non_bmp_preserved(self):
        assert normalize_text("ok \U0001f600 fine") == "ok \U0001f600 fine"

    def test_inline_collapses_newlines(self):
        assert normalize_inline("a\n  b\tc") == "a b c"

    def test_empty(self):
        assert normalize_text("") == "" and normalize_text(None or "") == ""


class TestHtmlBlocks:
    def test_boilerplate_tags_blocked(self):
        html = f"<nav>{LONG}</nav><p>{LONG}</p><footer>{LONG}</footer>"
        kept = score_blocks(extract_blocks(html))
        assert len(kept) == 1 and kept[0].text.startswith("word")

    def test_class_blocklist(self):
        html = f'<div class="sidebar left">{LONG}</div><div class="content">{LONG}</div>'
        assert len(score_blocks(extract_blocks(html))) == 1

    def test_link_density_pruned(self):
        links = "".join(f'<a href="#">link text {i}</a> ' for i in range(10))
        html = f"<p>{links}</p><p>{LONG}</p>"
        kept = score_blocks(extract_blocks(html))
        assert len(kept) == 1 and "link text" not in kept[0].text

    def test_short_blocks_dropped_headings_kept(self):
        html = f"<p>tiny</p><h2>Title</h2><p>{LONG}</p>"
        kept = score_blocks(extract_blocks(html))
        assert len(kept) == 2 and kept[0].text == "Title"

    def test_script_style_skipped(self):
        html = f"<script>{LONG}</script><style>{LONG}</style><p>{LONG}</p>"
        assert len(score_blocks(extract_blocks(html))) == 1

    def test_malformed_tolerated(self):
        html = f"</div><p>{LONG}<div></span>{LONG}"
        kept = score_blocks(extract_blocks(html))
        assert kept and any("word" in b.text for b in kept)

    def test_entities_decoded(self):
        html = "<p>" + "fish &amp; chips &lt;tag&gt; café " * 3 + "</p>"
        kept = score_blocks(extract_blocks(html))
        assert any("fish & chips <tag> café" in b.text for b in kept)

    def test_stats(self):
        blocks = extract_blocks(f'<p><a href="#">half of this</a> and plain rest</p>')
        assert len(blocks) == 1
        b = blocks[0]
        assert b.link_chars == len("half of this")
        assert b.total_chars == len("half of this and plain rest")

    def test_nested_boilerplate_unblocks_after_close(self):
        html = f"<header><p>{LONG}</p></header><p>{LONG}</p>"
        blocks = score_blocks(extract_blocks(html))
        assert len(blocks) == 1


class TestPdf:
    def test_roundtrip_raw_and_flate(self):
        paras = ["Hello (world) with \\ escapes", "second paragraph"]
        for flate in (False, True):
            assert extract_pdf_text(build_pdf(paras, flate)) == "\n".join(paras)

    def test_bad_magic(self):
        with pytest.raises(PdfParseError):
            extract_pdf_text(b"not a pdf")

    def test_unterminated_stream(self):
        with pytest.raises(PdfParseError):
            extract_pdf_text(b"%PDF-1.4\n<< /Length 3 >> stream\nabc")

    def test_corrupt_flate(self):
        with pytest.raises(PdfParseError):
            extract_pdf_text(b"%PDF-1.4\n<< /Filter /FlateDecode >> stream\nBT junk\nendstream")

    def test_octal_and_utf16_strings(self):
        body = b"BT (\\101\\102) Tj ET"
        pdf = b"%PDF-1.4\n<< /Length 19 >> stream\n" + body + b"\nendstream"
        assert extract_pdf_text(pdf) == "AB"

    def test_flate_data_ending_in_eol_byte(self):
        """Regression: /Length must bound the stream exactly — compressed
        data whose last byte is \\r or \\n must not be EOL-trimmed (found via
        documents doc_id=202 at sf0.01: zlib output ended in 0x0d)."""
        import zlib

        for probe in range(2000):
            text = f"probe {probe} " + "x" * (probe % 97)
            raw = f"BT ({text}) Tj ET".encode()
            comp = zlib.compress(raw, 6)
            if comp[-1:] in (b"\n", b"\r"):
                assert extract_pdf_text(build_pdf([text], flate=True)) == text
                break
        else:
            raise AssertionError("no probe produced EOL-final compressed data")

    def test_indirect_length_falls_back_to_heuristic(self):
        body = b"BT (hi there) Tj ET"
        pdf = (b"%PDF-1.4\n<< /Length 4 0 R >> stream\n" + body
               + b"\nendstream")
        assert extract_pdf_text(pdf) == "hi there"

    def test_indirect_length_nonzero_generation(self):
        """Regression: a gen>0 indirect ref (/Length 4 1 R) must not be
        parsed as direct length 4 (which would truncate the stream body)."""
        body = b"BT (hi there) Tj ET"
        pdf = (b"%PDF-1.4\n<< /Length 4 1 R >> stream\n" + body
               + b"\nendstream")
        assert extract_pdf_text(pdf) == "hi there"


class TestLenientCascade:
    def test_strict_success_exits_early(self):
        from ocr_spark.core.htmlparse import extract_kept_blocks_cascade

        html = "<p>" + "real article content " * 3 + "</p>"
        kept, strategy = extract_kept_blocks_cascade(html)
        text, n = "\n".join(b.text for b in kept), len(kept)
        assert strategy == "strict" and n == 1 and "real article" in text

    def test_lenient_recovers_class_blocklisted_content(self):
        """Content the class heuristic misclassifies (everything inside a
        'related'-classed container) drops to empty under strict; the
        lenient pass recovers it with status ok_lenient."""
        from ocr_spark.core.extract import extract_record
        from ocr_spark.core.htmlparse import extract_kept_blocks_cascade

        html = ('<div class="related"><p>this is the entire article body, '
                "long enough to keep and clearly prose</p></div>")
        kept, strategy = extract_kept_blocks_cascade(html)
        text, n = "\n".join(b.text for b in kept), len(kept)
        assert strategy == "lenient" and n == 1 and "entire article" in text

        r = extract_record("u", html.encode(), None, "en")
        assert r["extract_status"] == "ok_lenient"
        assert "entire article" in r["text"] and r["n_blocks"] == 1

    def test_lenient_recovers_short_paragraph_pages(self):
        from ocr_spark.core.extract import extract_record

        html = "<p>short one.</p><p>short two.</p>"
        r = extract_record("u", html.encode(), None, "en")
        assert r["extract_status"] == "ok_lenient"
        assert r["text"] == "short one.\nshort two." and r["n_blocks"] == 2

    def test_lenient_still_excludes_structural_boilerplate(self):
        """nav/footer content stays excluded even in the lenient pass —
        the retry questions the heuristic classifier, not the semantics."""
        from ocr_spark.core.extract import extract_record

        html = ("<nav><p>menu menu menu menu menu menu menu</p></nav>"
                "<footer><p>copyright footer boilerplate text here</p></footer>")
        r = extract_record("u", html.encode(), None, "en")
        assert r["extract_status"] == "empty" and r["text"] == ""

    def test_lenient_never_fires_on_synth_corpus(self):
        """The deterministic synthetic pages all succeed strictly, so the
        flagship oracle and golden pins are unaffected by the cascade."""
        from ocr_spark.core.extract import extract_record
        from ocr_spark.core.synth import gen_page

        for i in range(200):
            p = gen_page(i, seed=7)
            r = extract_record(p["url"], p["html"], p["text"], p["lang"])
            assert not r["extract_status"].startswith("ok_lenient")


class TestExtractRecord:
    def test_null_html_with_text(self):
        r = extract_record("u", None, "  fallback\r\ntext  ", "en")
        assert r["extract_status"] == "fallback_text"
        assert r["text"] == "fallback\ntext"
        assert r["content_kind"] == "text"

    def test_null_everything(self):
        r = extract_record("u", None, None, None)
        assert r["extract_status"] == "empty" and r["text"] == ""

    def test_pdf_error_falls_back(self):
        r = extract_record("u", b"%PDF-1.4\n<< >> stream\nabc", "plan b", "en")
        assert r["extract_status"] == "fallback_text" and r["text"] == "plan b"

    def test_pdf_error_no_fallback(self):
        r = extract_record("u", b"%PDF-1.4\n<< >> stream\nabc", None, "en")
        assert r["extract_status"] == "error:PdfParseError" and r["text"] == ""

    def test_fallback_ignored_when_html_ok(self):
        r = extract_record("u", f"<p>{LONG}</p>".encode(), "decoy", "en")
        assert r["extract_status"] == "ok" and "decoy" not in r["text"]

    def test_bytes_accounting(self):
        html = f"<p>{LONG}</p>".encode()
        r = extract_record("u", html, None, "en")
        assert r["bytes_in"] == len(html)
        assert r["bytes_out"] == len(r["text"].encode("utf-8")) > 0


def test_pdf_length_regex_rejects_multidigit_indirect_refs():
    """Backtracking trap: /Length 41 0 R must NOT match as direct length 4
    (the regex engine shrinks \\d+ until the lookahead stops seeing 'N R')."""
    from ocr_spark.core.pdfparse import _RE_LENGTH

    assert _RE_LENGTH.search(b"/Length 41 0 R") is None
    assert _RE_LENGTH.search(b"/Length 123 7 R") is None
    assert _RE_LENGTH.search(b"/Length 4 1 R") is None
    assert _RE_LENGTH.search(b"/Length 41 >>").group(1) == b"41"


class TestCharsetSniff:
    """_decode: WHATWG-ish sniff order (BOM > declared charset > utf-8 >
    latin-1). Deterministic and total; fixtures never declare charsets so
    golden pins are unaffected (asserted by the untouched pin suite)."""

    PARA = "the quick brown fox jumps over the lazy dog again and again today"

    def _page(self, body: str) -> str:
        return f"<html><body><article><p>{body}</p></article></body></html>"

    def test_declared_cp1252_euro(self):
        # 0x80 is € in cp1252 but a control char via the latin-1 fallback —
        # the declaration is what makes the byte meaningful
        raw = ('<meta charset="windows-1252">' + self._page(self.PARA + " price 5€")).encode("cp1252")
        rec = extract_record("u", raw, None, "en")
        assert "5€" in rec["text"]
        assert rec["extract_status"] in ("ok", "ok_lenient")

    def test_undeclared_invalid_utf8_falls_back_latin1(self):
        raw = self._page(self.PARA + " caf\xe9").encode("latin-1")
        rec = extract_record("u", raw, None, "en")
        assert "café" in rec["text"]

    def test_utf8_bom_stripped(self):
        raw = b"\xef\xbb\xbf" + self._page(self.PARA).encode("utf-8")
        rec = extract_record("u", raw, None, "en")
        assert rec["text"] and "﻿" not in rec["text"]

    def test_utf16_le_bom(self):
        raw = self._page(self.PARA + " caf\xe9").encode("utf-16")  # emits BOM
        rec = extract_record("u", raw, None, "en")
        assert "café" in rec["text"]

    def test_bogus_charset_label_falls_through(self):
        raw = ('<meta charset="no-such-enc">' + self._page(self.PARA)).encode("utf-8")
        rec = extract_record("u", raw, None, "en")
        assert self.PARA.split()[1] in rec["text"]

    def test_declared_charset_with_invalid_bytes_falls_through(self):
        # declares utf-16 (sans BOM) but bytes are utf-8: odd length makes
        # utf-16 raise, so the chain lands on strict utf-8
        raw = ('<meta charset="utf-16">' + self._page(self.PARA) + "x").encode("utf-8")
        rec = extract_record("u", raw, None, "en")
        assert self.PARA.split()[2] in rec["text"]

    def test_declaration_outside_1k_window_ignored(self):
        pad = self._page("x " * 600)  # pushes the meta past 1024 bytes
        raw = (pad + '<meta charset="windows-1252">').encode("utf-8")
        rec = extract_record("u", raw, None, "en")
        assert rec["extract_status"] in ("ok", "ok_lenient", "empty")
