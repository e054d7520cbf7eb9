"""Mojibake detection and repair (ftfy-style, closed-form).

Web crawls are full of UTF-8 text that was decoded once as Windows-1252
and re-encoded — "café" becomes "cafÃ©", "—" becomes "â€”". The real
fix is a byte round-trip (encode cp1252, decode utf-8), but a byte
round-trip is a Python-only operation; at 100 TB we want the repair to
stay inside JVM whole-stage codegen AND be replayable by an ANSI-SQL
oracle. Both hold because the round-trip has a closed form over any
fixed character repertoire: for each true character ``c`` the garbled
form is exactly ``c.encode('utf-8').decode('cp1252')``, so the repair
is a finite chain of literal ``replace(garbled -> c)`` calls.

``MOJIBAKE_MAP`` is generated (not hand-typed) from that round trip
over the repertoire web text actually hits: the Latin-1 supplement
letters/symbols (U+00A1..U+00FF) plus the common General-Punctuation
set (curly quotes, dashes, ellipsis, daggers, permille, euro).
Characters whose UTF-8 bytes include a cp1252-undefined byte (0x81,
0x8D, 0x8F, 0x90, 0x9D) have no printable garbled form and are
excluded. Replacements apply longest-garbled-first so 3-byte
sequences ("â€”") never lose a prefix to a 2-byte rule.

Known ambiguity (shared with ftfy): when a repaired character abuts
original text it can complete a *new* garbled digraph ("Ã" + repaired
"—" = "Ã—" -> "×"). The chain is deterministic and the SQL twin replays
the same chain in the same order, so engine and oracle always agree.

Reference parity: the reference's pipeline guards against exactly this
failure class — wrong-codec text decode (its platform codec ladder picks
gbk vs utf-8 and suppresses errors, batch_folder_process.py:113-119);
this module is the web-text analog where the damage already happened
upstream in the crawl and must be REPAIRED, not just tolerated.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

# cp1252-undefined bytes: these positions have no character, so any
# UTF-8 sequence containing one never survives a cp1252 decode intact.
_CP1252_HOLES = {0x81, 0x8D, 0x8F, 0x90, 0x9D}

# General Punctuation / currency characters commonly seen garbled.
_PUNCT = "–—‘’‚“”„†‡•…‰‹›€"


def _build_map() -> tuple[tuple[str, str], ...]:
    pairs = []
    repertoire = [chr(cp) for cp in range(0x00A1, 0x0100)] + list(_PUNCT)
    for ch in repertoire:
        raw = ch.encode("utf-8")
        if any(b in _CP1252_HOLES for b in raw):
            continue
        garbled = raw.decode("cp1252")
        pairs.append((garbled, ch))
    # longest garbled form first; then lexicographic for determinism
    pairs.sort(key=lambda p: (-len(p[0]), p[0]))
    return tuple(pairs)


#: (garbled, fixed) pairs, longest-first — the repair chain's identity.
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = _build_map()


def fix_mojibake() -> Column:
    """Repair one level of UTF-8-as-cp1252 mojibake in the ``raw`` column.

    A single projection of chained literal replaces — no shuffle, no
    Python, codegen-friendly (Spark splits oversized generated methods
    automatically). Idempotent on already-clean text: clean text cannot
    contain a garbled digraph unless it genuinely was garbled.
    """
    return reduce(lambda acc, p: F.replace(acc, F.lit(p[0]), F.lit(p[1])),
                  MOJIBAKE_MAP, F.col("raw"))


# --- exact SQL twin (DuckDB dialect) ---------------------------------------


def sql_fix_mojibake() -> str:
    """The identical replace chain as a DuckDB SQL expression over the
    ``raw`` column. Generated from the same MOJIBAKE_MAP so engine and
    oracle cannot drift."""
    out = "raw"
    for garbled, ch in MOJIBAKE_MAP:
        g = garbled.replace("'", "''")
        f = ch.replace("'", "''")
        out = f"replace({out}, '{g}', '{f}')"
    return out
