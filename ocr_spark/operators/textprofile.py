"""Character-class text profiling: Unicode-script mix and code-likeness.

Two gates every large crawl pipeline runs between language-ID and the
quality model:

- ``script_stats`` — the CCNet-lineage script filter: a page whose
  characters disagree with its declared language tag (Latin page tagged
  zh, mojibake Cyrillic inside an English page) is a decode or labeling
  failure. Counted over explicit Unicode CODE-POINT RANGES, not named
  script properties, so Java regex (Spark) and RE2 (DuckDB) agree by
  construction and the result cannot drift across Unicode table versions.
- ``code_detect`` — the RedPajama/StarCoder-style prose-vs-code split:
  keyword hits (token-exact, the blockword idiom), indented-line fraction,
  and symbol density. Used either to ROUTE (code corpora are curated
  separately) or to EXCLUDE (prose-only mixes).

Both are zero-shuffle stateless projections (streaming-safe; the same
operator gates a batch table or a readStream) — the plan-test contract of
quality_filter/blockwords. Reference analog: the per-region character
profile choosing the recognition branch (one_key_process.py:576-607).

Determinism/oracle: every count is ``length(x) - length(regexp_replace
(x, cls, ''))`` over an explicit char class, fractions round to 4 dp,
NULL text behaves as '' and every input row comes back (P7 discipline).
Twins: ``__spark_entry__._script_stats_oracle`` / ``_code_detect_oracle``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

# Explicit code-point ranges (identical semantics in Java regex and RE2).
SCRIPT_RANGES = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "cjk": "一-鿿぀-ヿ",   # Han + kana
    "arabic": "؀-ۿ",
    "greek": "Ͱ-Ͽ",
}
# deterministic dominant-script tie-break: first listed wins at equality
SCRIPT_ORDER = ("latin", "cyrillic", "cjk", "arabic", "greek")

WHITESPACE_CLS = "[ \t\n\r]"

CODE_KEYWORDS = (
    "def", "return", "import", "class", "function", "const", "var",
    "void", "include", "printf", "endif", "lambda",
)
CODE_SYMBOL_CLS = r"[{}\[\]();=<>]"
MIN_CODE_KEYWORDS = 2      # keyword clause: >=2 distinct keywords ...
MIN_CODE_INDENT_LINES = 1  # ... plus at least one indented line
MIN_CODE_SYM_RATIO = 0.08  # or symbol-dense text outright


def _cls_count(text: Column, cls: str) -> Column:
    """Characters of ``text`` inside char-class ``cls`` — the portable
    count both engines compute as length minus length-after-removal."""
    return F.length(text) - F.length(F.regexp_replace(text, f"[{cls}]", ""))


def script_columns(text: Column) -> dict[str, Column]:
    """The script-mix expression bundle over a coalesced text column —
    shared by :func:`script_stats` and the fused one-pass
    ``signals.quality_signals`` projection: n_chars plus, per
    SCRIPT_ORDER entry, ``<script>_frac``, plus ``dominant_script``."""
    n_chars = F.length(F.regexp_replace(text, WHITESPACE_CLS, "")).cast("long")
    counts = {k: _cls_count(text, cls) for k, cls in SCRIPT_RANGES.items()}

    best = F.lit("other")
    best_n = F.lit(0)
    for name in reversed(SCRIPT_ORDER):
        # reversed fold: earlier SCRIPT_ORDER entries override at >= ties
        best = F.when(counts[name] >= best_n, F.lit(name)).otherwise(best)
        best_n = F.greatest(counts[name], best_n)
    dominant = F.when(best_n > 0, best).otherwise(F.lit("other"))

    def frac(c: Column) -> Column:
        return F.round(
            F.when(n_chars == 0, F.lit(0.0)).otherwise(
                c.cast("double") / n_chars.cast("double")
            ),
            4,
        )

    out: dict[str, Column] = {"n_chars": n_chars}
    for k in SCRIPT_ORDER:
        out[f"{k}_frac"] = frac(counts[k])
    out["dominant_script"] = dominant
    return out


def script_stats(df: DataFrame) -> DataFrame:
    """(id, n_chars, latin_frac, cyrillic_frac, cjk_frac, arabic_frac,
    greek_frac, dominant_script): per-document script mix over
    non-whitespace characters. ``dominant_script`` is the max-count range
    (SCRIPT_ORDER tie-break) or 'other' when no listed script occurs.
    One output row per input row; NULL text counts as empty."""
    cols = script_columns(F.coalesce(F.col("text"), F.lit("")))
    return df.select(
        F.col("doc_id"), *[c.alias(name) for name, c in cols.items()]
    )


def code_columns(text: Column) -> dict[str, Column]:
    """The code-likeness expression bundle over a coalesced text column —
    shared by :func:`code_detect` and ``signals.quality_signals``:
    n_lines, indent_lines, sym_ratio, kw_hits, is_code."""
    n_chars = F.length(F.regexp_replace(text, WHITESPACE_CLS, "")).cast("long")
    lines = F.split(text, "\n")
    indent_lines = F.size(
        F.filter(lines, lambda x: x.rlike("^(\t|    )"))
    ).cast("long")
    n_sym = F.length(text) - F.length(F.regexp_replace(text, CODE_SYMBOL_CLS, ""))
    sym_ratio = F.round(
        F.when(n_chars == 0, F.lit(0.0)).otherwise(
            n_sym.cast("double") / n_chars.cast("double")
        ),
        4,
    )
    toks = word_tokens(text)
    kw_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(k) for k in CODE_KEYWORDS]))
    ).cast("long")
    is_code = (
        (kw_hits >= MIN_CODE_KEYWORDS) & (indent_lines >= MIN_CODE_INDENT_LINES)
    ) | (sym_ratio >= MIN_CODE_SYM_RATIO)
    return {
        "n_lines": F.size(lines).cast("long"),
        "indent_lines": indent_lines,
        "sym_ratio": sym_ratio,
        "kw_hits": kw_hits,
        "is_code": is_code,
    }


def code_detect(df: DataFrame) -> DataFrame:
    """(id, n_chars, n_lines, indent_lines, sym_ratio, kw_hits, is_code):
    code-likeness verdict. is_code when >= MIN_CODE_KEYWORDS distinct
    code keywords co-occur with an indented line, OR symbol density alone
    exceeds MIN_CODE_SYM_RATIO (dense config/JSON with no keywords).
    Keyword matching is token-exact over TOKEN_PATTERN (lowercased), so
    'classic' never hits 'class' — the blockword_filter idiom."""
    text = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(F.regexp_replace(text, WHITESPACE_CLS, "")).cast("long")
    cols = code_columns(text)
    return df.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        *[cols[k].alias(k) for k in
          ("n_lines", "indent_lines", "sym_ratio", "kw_hits", "is_code")],
    )


# vocab_growth's prefix sizes (read at call time), shared with the DuckDB twin
VOCAB_CHECKPOINTS = [16, 64, 256, 1024, 4096]


def vocab_growth(df: DataFrame) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law checkpoints): for each
    ``VOCAB_CHECKPOINTS`` prefix of the corpus in ``doc_id`` order, the cumulative
    token count and distinct-type count, plus the type/token ratio.
    Columns: n_docs, n_tokens, vocab_size, type_token_ratio (4 dp).

    Why at 100 TB: the growth curve is the corpus-QA saturation signal —
    a healthy crawl's vocabulary grows ~n^0.5 (Heaps); a curve that goes
    FLAT says the tail is near-duplicate boilerplate (dedup is overdue),
    one that stays LINEAR says the corpus is drowning in unique noise
    (mojibake, random ids — quality gates are failing). Pipelines track
    it per dump to decide where cleaning effort goes.

    Plan shape (the reason this is not a window over the whole corpus):
    a naive cumulative-distinct needs a global sort + running set — a
    single-task scan at scale. Instead (a) ONE tokenize projection feeds
    both sides; (b) each type collapses to its FIRST document
    (min(doc_id) per token — one partial-agg shuffle bounded by the
    vocabulary); (c) first-occurrence docs fold to a docs-bounded
    histogram (n_new types per doc), likewise per-doc token counts; (d)
    the dozen checkpoint rows arrive by a broadcast range join over
    those bounded histograms with map-side conditional sums. Nothing
    ever sorts globally; the widest shuffle key is a token.
    """
    toks = df.select(
        F.col("doc_id").alias("doc"),
        F.explode(word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok"),
    )
    # per-doc token counts (docs-bounded)
    doc_tokens = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tok"))
    # first-occurrence histogram: n_new types per doc (docs-bounded;
    # the min(doc) agg is the only vocabulary-keyed shuffle)
    first = (
        toks.groupBy("tok")
        .agg(F.min("doc").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    cps = df.sparkSession.createDataFrame(
        [(int(c),) for c in sorted(set(VOCAB_CHECKPOINTS))], "n_docs long"
    )
    vocab = (
        F.broadcast(cps)
        .join(first, first["first_doc"] < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.sum("n_new").alias("vocab_size"))
    )
    tokens = (
        F.broadcast(cps)
        .join(doc_tokens, doc_tokens["doc"] < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    return (
        cps.join(tokens, "n_docs", "left")
        .join(vocab, "n_docs", "left")
        .select(
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("vocab_size", F.lit(0)).alias("vocab_size"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(
                    F.col("vocab_size").cast("double")
                    / F.col("n_tokens").cast("double"),
                    4,
                ),
            ).otherwise(F.lit(0.0)).alias("type_token_ratio"),
        )
        .orderBy("n_docs")
    )
