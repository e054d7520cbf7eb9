"""Per-document extraction: the single shared core of the whole engine.

One call = one document = one output record — the reference's contract of
"for each document key emit exactly one record, deterministic function of the
document bytes and a fixed rule set, failures produce empty values, never
dropped rows" (reference: one_key_process.py:796-896 pivot + 识别成功率;
P7 failure->empty semantics one_key_process.py:576-582).

Both execution paths import THIS function:
- golden fixture generator (serial, driver-side) — ocr_spark.golden
- distributed Arrow-batched path — ocr_spark.operators.extract_op

Dispatch (deterministic; ``_dispatch`` makes it once per document, and the
text, markdown and span record shapes all render from its result):
  html is NULL/empty  -> text-column fallback (E4 analog,
                         optimized_ocr_processor.py:350-385) else 'empty'
  html starts %PDF    -> pdf branch (core.pdfparse)
  else                -> HTML branch (core.htmlparse) through the F14
                         two-strategy cascade: strict scoring first
                         (confidence early-exit), lenient rescoring when
                         strict keeps nothing ('ok_lenient' status); bytes
                         decode via the WHATWG-ish sniff (_decode: BOM,
                         declared charset in the first 1 KiB, UTF-8,
                         latin-1 — total, deterministic)
  branch raised       -> text fallback if available else 'error:<Class>'
  branch returned ''  -> text fallback if available else 'empty'
"""

from __future__ import annotations

import re as _re

from .htmlparse import extract_kept_blocks_cascade
from .normalize import normalize_text
from .pdfparse import extract_pdf_text

RESULT_COLUMNS = (
    "url",
    "text",
    "extract_status",
    "content_kind",
    "n_blocks",
    "bytes_in",
    "bytes_out",
)

STATUS_OK = "ok"
STATUS_OK_LENIENT = "ok_lenient"    # recovered by the lenient retry strategy
STATUS_EMPTY = "empty"
STATUS_FALLBACK = "fallback_text"


_CHARSET_RE = _re.compile(rb"""charset\s*=\s*["']?([A-Za-z0-9_\-:.]+)""", _re.I)

# WHATWG-prescan-style sniff window: a declared charset must appear in the
# first 1 KiB to be honored (real browsers scan 1024 bytes).
_SNIFF_BYTES = 1024


def _decode(html: bytes) -> str:
    """Deterministic, total byte->str decode (WHATWG-ish sniff order):

    1. BOM is authoritative: UTF-8 BOM stripped, UTF-16 LE/BE BOM via the
       BOM-consuming codec; malformed sequences become U+FFFD (replace) —
       the BOM's claim outranks byte validity, and replace keeps the
       function total and deterministic.
    2. A ``charset=`` declaration in the first 1 KiB (meta tag or a stray
       Content-Type line; the prescan approximation — a body occurrence
       inside the window also matches, disclosed) is tried strictly;
       unknown labels or invalid bytes fall through.
    3. Strict UTF-8, else latin-1 (total: every byte sequence decodes).

    Fixture note: no synthetic page declares a charset; 6 of the 400 pinned
    pages (the binary-garbage family) start with BOM-like bytes and moved
    from the latin-1 fallback to the UTF-16 branch when this sniff landed —
    deterministic mojibake either way, statuses unchanged; pins regenerated
    deliberately with that commit.
    """
    if html[:3] == b"\xef\xbb\xbf":
        return html[3:].decode("utf-8", "replace")
    if html[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return html.decode("utf-16", "replace")
    m = _CHARSET_RE.search(html[:_SNIFF_BYTES])
    if m:
        label = m.group(1).decode("ascii", "ignore").strip().lower()
        if label not in ("utf-8", "utf8"):  # utf-8 claim == default path
            try:
                return html.decode(label)
            except (LookupError, UnicodeDecodeError, ValueError):
                pass
    try:
        return html.decode("utf-8")
    except UnicodeDecodeError:
        return html.decode("latin-1")


def _dispatch(html: bytes | None, text: str | None) -> tuple[list | None, str, str, str, int]:
    """The one per-document decision every record shape renders from:
    (kept HTML blocks or None, text, status, content kind, n_blocks).
    ``kept`` is set exactly when the HTML cascade kept something (every
    kept block has non-empty text, so ``text`` is non-empty then too); the
    pdf, fallback, empty and error outcomes carry None. Total: never
    raises."""
    fallback = normalize_text(text) if text else ""
    status = STATUS_EMPTY
    if html is None or len(html) == 0:
        kind = "text" if fallback else "none"
    else:
        kind = "pdf" if html[:4] == b"%PDF" else "html"
        try:
            if kind == "pdf":
                out = normalize_text(extract_pdf_text(html))
                if out:
                    return None, out, STATUS_OK, kind, out.count("\n") + 1
            else:
                # F14 cascade: strict strategy with early exit, lenient
                # rescore only when strict keeps nothing (one tokenize pass)
                kept, strategy = extract_kept_blocks_cascade(_decode(html))
                if kept:
                    # tokenizer output is normalize_text-canonical by
                    # construction: every block is normalize_inline'd (single
                    # spaces, mapped chars removed, stripped) and non-empty
                    # blocks join with one LF — asserted as an invariant in
                    # tests. Skipping the redundant pass saves ~7% of the parse.
                    return (kept, "\n".join(b.text for b in kept),
                            STATUS_OK if strategy == "strict" else STATUS_OK_LENIENT,
                            kind, len(kept))
        except Exception as e:  # noqa: BLE001 — P7: failure -> empty, row retained
            status = f"error:{type(e).__name__}"
    if fallback:
        return None, fallback, STATUS_FALLBACK, kind, 0
    return None, "", status, kind, 0


def extract_record(url: str, html: bytes | None, text: str | None, lang: str | None) -> dict:
    """Extract one document. Total function: never raises."""
    _kept, out, status, kind, n_blocks = _dispatch(html, text)
    return {
        "url": url,
        "text": out,
        "extract_status": status,
        "content_kind": kind,
        "n_blocks": n_blocks,
        "bytes_in": len(html) if html is not None else 0,
        "bytes_out": len(out.encode("utf-8")),
    }


MARKDOWN_COLUMNS = ("url", "markdown", "extract_status", "content_kind", "n_blocks")


def extract_markdown_record(url: str, html: bytes | None, text: str | None,
                            lang: str | None) -> dict:
    """Extract one document as MARKDOWN (core.markdown rendering of the
    kept blocks — headings/list items/quotes keep their structure instead
    of flattening). Status, kind and n_blocks are :func:`extract_record`'s:
    the pdf/fallback/empty/error outcomes emit its plain text as
    paragraph-only markdown (no structure is available there to render).
    Total, never raises, never drops a row (P7)."""
    from .markdown import blocks_to_markdown

    kept, out, status, kind, n_blocks = _dispatch(html, text)
    return {
        "url": url,
        "markdown": blocks_to_markdown(kept) if kept else out,
        "extract_status": status,
        "content_kind": kind,
        "n_blocks": n_blocks,
    }


SPAN_COLUMNS = ("url", "block_idx", "span_start", "span_end", "block_text", "heading")


def extract_span_rows(url: str, html: bytes | None, text: str | None,
                      lang: str | None) -> list[dict]:
    """Extract one document into PER-BLOCK span rows — the north-rule
    "extracted text/spans per document" contract: each kept block carries
    the char span [span_start, span_end) of the DECODED html region it was
    drawn from (reference analog: per-region OCR records with their source
    coordinates, one_key_process.py:796-896; DOM offsets replace pixel
    boxes). Joining block_text over blocks in block_idx order with one LF
    reconstructs ``extract_record``'s text byte-for-byte — asserted by
    tests, so the two paths cannot drift.

    Total function, never raises; never drops a document: non-HTML branches
    (pdf / text fallback / empty / error) emit ONE row with NULL spans so
    every input url appears in the output (P7 contract).
    """
    kept, out, _status, _kind, _n_blocks = _dispatch(html, text)
    if kept:
        return [
            {
                "url": url,
                "block_idx": i,
                "span_start": b.src_start,
                "span_end": b.src_end,
                "block_text": b.text,
                "heading": b.level > 0,
            }
            for i, b in enumerate(kept)
        ]
    # pdf / fallback / empty / error: one whole-document row, NULL span
    return [
        {
            "url": url,
            "block_idx": 0,
            "span_start": None,
            "span_end": None,
            "block_text": out,
            "heading": False,
        }
    ]
