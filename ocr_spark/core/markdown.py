"""Markdown rendering of extracted main content.

The LLM-pipeline output format next to plain text: the same kept blocks
the text path emits (core.htmlparse cascade — density scoring, link
pruning, blocklists all apply identically), rendered with their
structural context instead of flattened:

- heading blocks -> ``#``*level prefix (h1..h6),
- list-item blocks -> ``- `` prefix,
- blockquote descendants -> ``> `` prefix (outermost),
- everything else -> a plain paragraph,
- blocks join with a blank line (the markdown paragraph separator).

Deliberately a RENDERING of the kept-block structure, not an HTML-to-
markdown transpiler: inline emphasis/links are already flattened by the
extraction contract (link text survives, markup does not), so the output
is exactly "the extracted text, structured" — stripping the markdown
prefixes and collapsing the blank lines reproduces the text path's
blocks, a round-trip tests pin.

Reference analog: the reference renders its extracted regions into a
styled workbook (excel_processor.py); markdown is the webtext analog of
that presentation layer, kept deterministic and byte-stable.
"""

from __future__ import annotations

from .htmlparse import Block

def block_to_markdown(b: Block) -> str:
    """One kept block -> one markdown block (no trailing newline)."""
    if b.level:
        line = "#" * min(b.level, 6) + " " + b.text
    elif b.list_item:
        line = "- " + b.text
    else:
        line = b.text
    if b.quote:
        line = "> " + line
    return line


def blocks_to_markdown(blocks: list[Block]) -> str:
    """Kept blocks -> one markdown document (blank-line separated)."""
    return "\n\n".join(block_to_markdown(b) for b in blocks)
