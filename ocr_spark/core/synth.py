"""Deterministic synthetic Common-Crawl-style pages (FIXTURES.md §1).

Per-row determinism: row ``i`` under seed ``s`` is a pure function of
``(s, i)`` — independent of generation order, batching, or partitioning —
so the driver-side golden path and the distributed generator produce the
exact same table, and scale-up (more rows) never changes existing rows.

Variety mirrors the reference's document variety (three layout profiles,
参考坐标区域.txt:2-59; degenerate/unreadable regions P5/P7/P8):
- article pages: <article> main content + nav/header/footer/aside/sidebar
  boilerplate carrying blocklisted classes;
- link-farm pages: high link-density blocks that must be pruned;
- minimal/legacy pages: no semantic tags, content found by density scoring;
- PDF payloads (raw + FlateDecode), the closed dialect of core.pdfparse;
- degenerate rows: NULL html + text fallback, empty bytes, malformed HTML,
  non-UTF-8 bytes, binary junk, non-BMP chars, NBSP/CRLF stressors.

Host skew: hosts drawn ~Zipf (a few hosts own most pages) to exercise the
salt-hash partitioning path (north_rule).
"""

from __future__ import annotations

import datetime as dt
import random
import zlib

SEED = 42
_EPOCH = dt.datetime(2026, 1, 9, 17, 7, 52)  # fixed; no wall clock

_WORDS = (
    "the quick brown fox jumps over lazy dog data spark engine extract crawl "
    "web page content main article paragraph heading section text token block "
    "density link score rule table batch parse record metric partition shuffle "
    "snapshot commit resume golden fixture byte identical deterministic seed "
    "host domain corpus training quality language model pipeline vector index"
).split()

_CJK = "数据提取引擎网页正文内容段落批量处理规则表快照提交恢复确定性种子指标分区"
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es", "ja")

N_HOSTS = 400


def _rng(i: int, seed: int) -> random.Random:
    return random.Random((seed << 32) ^ i)


def _host(r: random.Random) -> str:
    # Zipf-ish: rank k with P(k) ~ 1/(k+1); rejection-free inverse transform.
    u = r.random()
    k = min(int((N_HOSTS ** u - 1)), N_HOSTS - 1)
    return f"host{k:04d}.example.com"


def _sentence(r: random.Random, lang: str) -> str:
    if lang == "zh":
        return "".join(r.choice(_CJK) for _ in range(r.randint(8, 26))) + "。"
    n = r.randint(5, 16)
    ws = [r.choice(_WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(r: random.Random, lang: str) -> str:
    return " ".join(_sentence(r, lang) for _ in range(r.randint(2, 6)))


def _nav_links(r: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/{r.choice(_WORDS)}/{j}">{r.choice(_WORDS)} {r.choice(_WORDS)}</a>'
        for j in range(n)
    )


def _article_page(r: random.Random, lang: str) -> tuple[bytes, str]:
    title = _sentence(r, lang).rstrip(".。")
    paras = [_paragraph(r, lang) for _ in range(r.randint(2, 7))]
    # deterministic stressors sprinkled into real content
    if r.random() < 0.2:
        paras[0] = paras[0].replace(" ", " ", 3)  # NBSP
    if r.random() < 0.15:
        paras.append("Snowman ☃ and emoji \U0001f600 paragraph with enough "
                     "length to be kept by the scorer for the byte identity test.")
    body_paras = "\n".join(f"<p>{p}</p>" for p in paras)
    comments = "".join(
        f'<div class="comment"><p>{_paragraph(r, lang)}</p></div>' for _ in range(r.randint(0, 2))
    )
    html = f"""<!DOCTYPE html><html lang="{lang}"><head><title>{title}</title>
<script>var x = 1 &amp;&amp; 2;</script><style>.a{{color:red}}</style></head>
<body>
<header class="masthead"><h1>Site Of {r.choice(_WORDS).title()}</h1>{_nav_links(r, 4)}</header>
<nav class="main-menu">{_nav_links(r, 6)}</nav>
<div class="container">
<aside class="sidebar">{_nav_links(r, 5)}<p>{_paragraph(r, lang)}</p></aside>
<article>
<h2>{title}</h2>
{body_paras}
</article>
<div id="comments-area">{comments}</div>
</div>
<footer class="site footer"><p>Copyright {r.randint(1999, 2026)} {_nav_links(r, 3)}</p></footer>
</body></html>"""
    return html.encode("utf-8"), title


def _linkfarm_page(r: random.Random, lang: str) -> tuple[bytes, str]:
    blocks = "\n".join(
        f"<div><p>{_nav_links(r, r.randint(6, 14))}</p></div>" for _ in range(r.randint(4, 9))
    )
    real = _paragraph(r, lang) if r.random() < 0.5 else ""
    real_html = f"<div><p>{real}</p></div>" if real else ""
    html = f"<html><body>{blocks}{real_html}{blocks}</body></html>"
    return html.encode("utf-8"), real


def _minimal_page(r: random.Random, lang: str) -> tuple[bytes, str]:
    paras = [_paragraph(r, lang) for _ in range(r.randint(1, 4))]
    sep = "<br><br>" if r.random() < 0.4 else "</p><p>"
    inner = sep.join(paras)
    # legacy soup: unclosed tags, stray closes, uppercase tags, bad entity
    html = f"<HTML><BODY><FONT size=2><p>{inner}</p></EM>&nbsp;&unknownent; <p>tiny</p></BODY>"
    return html.encode("utf-8"), paras[0]


def build_pdf(paragraphs: list[str], flate: bool) -> bytes:
    """Emit a PDF in the closed dialect of core.pdfparse."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for j, p in enumerate(paragraphs):
        if j:
            ops.append("0 -28 Td")
        ops.append(f"({esc(p)}) Tj")
    ops.append("ET")
    content = "\n".join(ops).encode("latin-1", errors="replace")
    filt = b""
    if flate:
        content = zlib.compress(content, 6)
        filt = b" /Filter /FlateDecode"
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n",
        b"4 0 obj << /Length %d%s >> stream\n%s\nendstream endobj\n"
        % (len(content), filt, content),
    ]
    for o in objs:
        offs.append(len(out))
        out += o
    xref = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    for o in offs:
        out += b"%010d 00000 n \n" % o
    out += b"trailer << /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def page_ts(i: int) -> dt.datetime:
    """Capture time of row i: a function of i alone, the same under every seed."""
    return _EPOCH + dt.timedelta(seconds=(i * 37) % 2_592_000)


def gen_page(i: int, seed: int) -> dict:
    """Row i -> one pages-table record (pure function of (seed, i))."""
    r = _rng(i, seed)
    lang = r.choice(_LANGS)
    host = _host(r)
    url = f"https://{host}/p/{seed}/{i}"
    ts = page_ts(i)
    kind = r.random()
    text_col = None
    if kind < 0.55:
        html, _ = _article_page(r, lang)
    elif kind < 0.72:
        html, _ = _linkfarm_page(r, lang)
    elif kind < 0.84:
        html, _ = _minimal_page(r, lang)
    elif kind < 0.90:
        html = build_pdf([_paragraph(r, lang) for _ in range(r.randint(1, 4))],
                         flate=r.random() < 0.5)
    else:
        # degenerate family (FIXTURES.md): exercised by P5/P7/P8 analogs
        d = r.randint(0, 5)
        if d == 0:
            html, text_col = None, _paragraph(r, lang)
        elif d == 1:
            html = b""
            text_col = _paragraph(r, lang) if r.random() < 0.5 else None
        elif d == 2:
            html = ("<div><p>" + _paragraph(r, lang) + "<div></span></p>unclosed").encode()
        elif d == 3:
            html = b"\xff\xfe\x00\x01binary\x9cgarbage" + bytes([r.randint(0, 255) for _ in range(64)])
            text_col = _paragraph(r, lang)
        elif d == 4:
            html = ("line one\r\nline two\r\rno tags at all " + _paragraph(r, lang)).encode()
        else:
            # unterminated stream -> PdfParseError -> error:<Class>/fallback path
            html = b"%PDF-1.4\n4 0 obj << /Length 5 >> stream\nbroken with no endstream"
            text_col = _paragraph(r, lang) if r.random() < 0.7 else None
    if text_col is None and r.random() < 0.3:
        text_col = _paragraph(r, lang)  # redundant fallback text, must be ignored when html ok
    return {"url": url, "warc_ts": ts, "html": html, "text": text_col, "lang": lang}


def gen_pages(n: int) -> list[dict]:
    return [gen_page(i, SEED) for i in range(n)]
