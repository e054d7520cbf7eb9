"""Text-analysis column functions for training-data pipelines.

All JVM-side ``pyspark.sql.functions`` compositions — no Python UDFs — so
they stay inside WholeStageCodegen and scale linearly with executors. Each
has an exact ANSI-SQL twin used by the DuckDB oracle (regex subsets chosen
to mean the same thing in Java regex and RE2: ASCII classes + literal
unicode ranges only).

These are the graft's training-data analog of the reference's deterministic
scalar layer (SURVEY §2.7): per-feature regex extraction dialects
(one_key_process.py:281-340), success-rate metric (one_key_process.py:890-894),
and the validator's quality scoring (data_validator.py:523-551).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII word tokens: identical semantics in Java regex and RE2/DuckDB.
TOKEN_PATTERN = "[A-Za-z0-9_']+"
PUNCT_CLASS = r"[!-/:-@\[-`{-~]"  # explicit ASCII punct ranges (dialect-safe)
CJK_RANGE = "[一-鿿]"

# Tiny deterministic English stopword list (shared verbatim with the oracle).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "for", "on", "with", "as", "at", "by", "this")


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _regex_tokens(c: Column) -> Column:
    return F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))


def token_count(c) -> Column:
    """Number of word tokens (BPE-ish regex token counting)."""
    return F.size(_regex_tokens(_col(c))).cast("long")


def word_tokens(c) -> Column:
    """The lowercased ``TOKEN_PATTERN`` token array every word-level
    operator (stopwords, tf-idf, BM25, feature hashing, vocab encoding)
    reads. NULL text gives NULL; callers that need a row per document
    pass a coalesced column."""
    return _regex_tokens(F.lower(_col(c)))


def whitespace_token_count(c) -> Column:
    """Whitespace-split token count (the cheap estimator)."""
    c = _col(c)
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "[ \t\n]+"))
    ).cast("long")


def punct_ratio(c) -> Column:
    """Punctuation chars / total chars (0.0 for empty)."""
    c = _col(c)
    n = F.length(c)
    p = F.length(F.regexp_replace(c, PUNCT_CLASS, "")) * -1 + n
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def stopword_ratio(c) -> Column:
    """Stopword tokens / word tokens (0.0 when no tokens)."""
    toks = word_tokens(c)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(stops.cast("double") / n.cast("double"))


def cjk_ratio(c) -> Column:
    """CJK chars / total chars."""
    c = _col(c)
    n = F.length(c)
    cjk = n - F.length(F.regexp_replace(c, CJK_RANGE, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(cjk.cast("double") / n.cast("double"))


def lang_id(c) -> Column:
    """n-gram-free heuristic language ID: 'zh' if CJK-dense, 'en' if
    stopword-dense, else 'other'. (Deterministic CASE WHEN — the gender-
    inference-style heuristic shape, data_validator.py:82-113.)"""
    return (
        F.when(cjk_ratio(c) > 0.30, F.lit("zh"))
        .when(stopword_ratio(c) > 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def quality_score(c) -> Column:
    """[0,1] document quality: length band + punctuation sanity + stopword
    presence (the completeness-score analog, data_validator.py:523-551).
    quality = 0.4*len_ok + 0.3*punct_ok + 0.3*stop_ok"""
    c = _col(c)
    n = F.length(c)
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).when(n >= 20, 0.5).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.10, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(c) >= 0.02, 1.0).otherwise(0.0)
    return F.round(len_ok * 0.4 + punct_ok * 0.3 + stop_ok * 0.3, 4)


def normalized_for_fingerprint(c) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), "[ \t\n]+", " "))


def canonical_words(c) -> Column:
    """``normalized_for_fingerprint`` split on single spaces: the word
    stream of the dedup, span and n-gram operators ('' gives [''])."""
    return F.split(normalized_for_fingerprint(c), " ")


def fingerprint_md5(c) -> Column:
    """Deterministic document fingerprint (hex md5 of canonical form) —
    engine-portable (same value in DuckDB: md5(...))."""
    return F.md5(F.encode(normalized_for_fingerprint(c), "UTF-8"))


def md5_prefix_long(c, digits: int) -> Column:
    """The first ``digits`` hex digits of md5 as a signed long: the
    engine's portable hash family (DuckDB:
    ``('0x' || substr(md5(x), 1, digits))::BIGINT``). 8 digits give the
    32-bit base hash; 15 is the largest prefix whose conv() to decimal
    stays inside signed 64-bit in both engines."""
    return F.conv(F.substring(F.md5(_col(c)), 1, digits), 16, 10).cast("long")


def ordered_collect(entry: Column, field: str) -> Column:
    """Aggregate: ``field`` of each collected ``(pos, field)`` struct in
    pos order. collect_list skips NULLs, so a ``when(keep, struct(...))``
    entry collects the kept units only."""
    return F.transform(F.array_sort(F.collect_list(entry)), lambda s: s[field])


# Sentence = a maximal run of non-terminators plus its trailing
# terminator run. RE2-safe (no lookaround — RE2 has none), so Java regex
# and DuckDB agree byte-for-byte. Deliberately simple: abbreviation
# handling ("e.g.") is a wordlist policy layered on top, not a regex
# property, and is out of scope for the splitter itself.
SENTENCE_PATTERN = "[^.!?]+[.!?]*"


def split_sentences(c) -> Column:
    """Array of trimmed, non-empty sentences in document order.

    Sentence-granular work (sentence dedup, bitext mining, quote
    filtering) keys on this split; it stays a zero-shuffle projection
    (regexp_extract_all -> transform -> filter, all codegen)."""
    parts = F.regexp_extract_all(_col(c), F.lit(SENTENCE_PATTERN), F.lit(0))
    # single-arg lambda on purpose: transform() treats a two-parameter
    # callable as (element, index), and F.trim's optional second parameter
    # would silently become "trim these characters: the index digits"
    return F.filter(F.transform(parts, lambda s: F.trim(s)), lambda s: s != "")


# --- exact SQL twins (kept adjacent so drift is visible in review) ----------

SQL_STOPWORDS_IN = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
