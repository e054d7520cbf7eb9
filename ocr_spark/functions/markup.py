"""Structured markup extraction: HTML tables and heading outlines.

The extraction core (``core/htmlparse.py``) deliberately FLATTENS tables
and headings into prose blocks — that is the main-content contract
(reference analog: the OCR pipeline's line-merge discards cell geometry,
predictor.py:141-166). But a web-corpus user also wants the structure
itself: tables as (table, row, col, cell) relations for data-to-text
training sets, and the heading hierarchy as a document outline for
section-aware chunking. Both extractors here are zero-Python,
zero-shuffle JVM regexp pipelines (``regexp_extract_all`` + nested
``posexplode``) — at 10^12 documents the 1:N explosion stays inside one
whole-stage-codegen projection per nesting level, so the only cost is
output width, never a shuffle or a Python worker.

Failure contract (P7 analog): a document with no matching structure
simply emits zero rows — these are 1:N segment emissions (the K2 sink
shape), not per-document enrichments, so "never drop" applies to the
enrichment operators (page_meta, signals), not here. Malformed markup
(an unclosed ``<table>``) produces no block match and therefore no rows
— disclosed, deterministic, and identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (?s): blocks span lines. Lazy bodies so sibling blocks don't merge.
TABLE_BLOCK_RE = r"(?s)<table[^>]*>(.*?)</table>"
TR_BLOCK_RE = r"(?s)<tr[^>]*>(.*?)</tr>"
CELL_BLOCK_RE = r"(?s)<t[dh][^>]*>(.*?)</t[dh]>"
HEADING_RE = r"(?s)<h[1-6][^>]*>.*?</h[1-6]>"
_TAG_RE = r"<[^>]*>"
_WS_RE = r"[ \t\n\r]+"


def _clean_cell(col):
    """Strip inner tags, collapse whitespace, trim — the same text
    normalization the prose path applies (core/normalize.py), so a cell
    rendered as ``<b> lang </b>`` hashes identically to ``lang``."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(col, F.lit(_TAG_RE), F.lit("")),
            F.lit(_WS_RE),
            F.lit(" "),
        )
    )


def extract_tables(pages: DataFrame) -> DataFrame:
    """Pages -> one row per table cell: (id..., table_idx, row_idx,
    col_idx, cell, is_header).

    Three nested posexplodes over lazy block regexes; ``is_header`` marks
    cells written as ``<th>`` (matched on the raw cell block before tag
    stripping). All indices are 0-based longs so downstream pivots can
    reassemble a row with ``group by table_idx, row_idx``.
    """
    ids = [F.col("doc_id")]
    tables = pages.select(
        *ids,
        F.posexplode(
            F.regexp_extract_all(
                F.coalesce(F.col("html"), F.lit("")),
                F.lit(TABLE_BLOCK_RE),
                F.lit(1),
            )
        ).alias("table_idx", "tbl"),
    )
    rows = tables.select(
        *ids,
        "table_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("tbl"), F.lit(TR_BLOCK_RE), F.lit(1))
        ).alias("row_idx", "trow"),
    )
    # group 0 = the full <td>/<th> element, so the tag name survives for
    # the is_header test; the body is re-extracted per cell.
    cells = rows.select(
        *ids,
        "table_idx",
        "row_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("trow"), F.lit(CELL_BLOCK_RE), F.lit(0))
        ).alias("col_idx", "cell_raw"),
    )
    return cells.select(
        *ids,
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("col_idx").cast("long").alias("col_idx"),
        _clean_cell(F.regexp_extract("cell_raw", CELL_BLOCK_RE, 1)).alias("cell"),
        F.col("cell_raw").startswith("<th").alias("is_header"),
    )


def extract_headings(pages: DataFrame) -> DataFrame:
    """Pages -> one row per heading: (id..., pos, level, heading, n_chars).

    ``pos`` is the document-order index (the outline), ``level`` the tag
    digit 1-6. Spark's ``regexp_extract_all`` returns a single group, so
    the full elements are exploded (group 0) and level/text re-extracted
    per element — still one codegen projection, no Python.
    """
    ids = [F.col("doc_id")]
    heads = pages.select(
        *ids,
        F.posexplode(
            F.regexp_extract_all(
                F.coalesce(F.col("html"), F.lit("")),
                F.lit(HEADING_RE),
                F.lit(0),
            )
        ).alias("pos", "helem"),
    )
    text = _clean_cell(
        F.regexp_extract("helem", r"(?s)<h[1-6][^>]*>(.*?)</h[1-6]>", 1)
    )
    return heads.select(
        *ids,
        F.col("pos").cast("long").alias("pos"),
        F.regexp_extract("helem", r"<h([1-6])", 1).cast("long").alias("level"),
        text.alias("heading"),
        F.length(text).cast("long").alias("n_chars"),
    )


def extract_sections(pages: DataFrame) -> DataFrame:
    """Pages -> one row per heading-delimited section: (id..., section_idx,
    level, heading, text, n_words) — the structure-aware chunking unit
    (split along the document's own outline instead of a fixed token
    window, so a chunk never straddles a topic boundary).

    Section 0 is the preamble before the first heading (level 0, NULL
    heading); section i >= 1 is governed by heading i-1 in document
    order. Empty sections (back-to-back headings, tag-only preambles)
    are kept — the outline is structure, and downstream chunkers decide
    what to skip. Construction: ONE projection — split the html by the
    heading regex (n+1 body segments), zip with the NULL-prefixed
    heading-element array, posexplode the pairs; level/heading/text are
    re-extracted per row. Zero Python, zero shuffle, streaming-safe; the
    1:N cost is output width, like the table extractor above.
    """
    html = F.coalesce(F.col("html"), F.lit(""))
    segs = F.split(html, HEADING_RE)
    heads = F.regexp_extract_all(html, F.lit(HEADING_RE), F.lit(0))
    pairs = F.arrays_zip(
        segs.alias("seg"),
        F.concat(F.array(F.lit(None).cast("string")), heads).alias("helem"),
    )
    ids = [F.col("doc_id")]
    rows = pages.select(*ids, F.posexplode(pairs).alias("section_idx", "p"))
    helem = F.col("p.helem")
    text = _clean_cell(F.col("p.seg"))
    heading = F.when(
        helem.isNotNull(),
        _clean_cell(
            F.regexp_extract(helem, r"(?s)<h[1-6][^>]*>(.*?)</h[1-6]>", 1)
        ),
    )
    level = (
        F.when(
            helem.isNotNull(),
            F.regexp_extract(helem, r"<h([1-6])", 1).cast("long"),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    n_words = (
        F.when(text == "", F.lit(0))
        .otherwise(F.size(F.split(text, " ")))
        .cast("long")
    )
    return rows.select(
        *ids,
        F.col("section_idx").cast("long").alias("section_idx"),
        level.alias("level"),
        heading.alias("heading"),
        text.alias("text"),
        n_words.alias("n_words"),
    )
