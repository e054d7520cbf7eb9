"""Corpus quality filtering and model-free LM scoring.

Training-data pipelines gate documents with (a) rule-based filters in the
Gopher / C4 tradition — word counts, word-length bands, symbol ratios,
repetition — and (b) a cheap language-model score in the CCNet tradition
(documents whose token transitions are improbable under the corpus's own
n-gram statistics are boilerplate, menus, or garble). The reference's
analog is its banded quality assessment over extracted fields
(data_validator.py:474-521); here the same grade-and-label shape is
applied to raw text at corpus scale.

Scale posture: everything is JVM expressions + two hash aggregations over
(id, token) — no Python. The LM tables (unigram/bigram counts) are
vocabulary-sized, orders of magnitude smaller than the corpus, and the
count join keys are the tokens themselves, so AQE broadcast-joins them at
real vocabulary sizes. Both operators are exactly SQL-replayable (twins in
``__spark_entry__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import canonical_words, normalized_for_fingerprint, word_tokens

# Rule thresholds (Gopher-style, tuned to fire non-vacuously on the shared
# corpus: ~7% too_short, ~15% repetitive at sf0.01 — and kept docs remain
# the large majority, like a real cleaning pass).
MIN_WORDS = 20
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.5
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_RATIO = 0.25
MAX_TOP_WORD_RATIO = 0.15

LM_ALPHA = 0.4      # additive smoothing for the bigram model


def _tokens(text_col: str):
    return F.filter(canonical_words(text_col), lambda x: x != "")


def quality_filter(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Rule-based document filter over the ``text`` column with per-rule
    reason labels:
    (id, n_words, mean_word_len, symbol_ratio, top_word_ratio, kept,
    drop_reason). ``drop_reason`` is the FIRST failing rule in a fixed
    order (too_short, too_long, word_len, symbol_heavy, repetitive) so
    the label is deterministic; NULL when kept. NULL text is coalesced
    to '' up front so it grades as too_short (kept=False) instead of
    falling through every NULL-valued rule to kept=True — PAGES_SCHEMA
    text is nullable, and the DuckDB twin already coalesces.

    Plan shape: PER-ROW expressions only — zero exchanges. Even the
    modal-token count (the "repetitive" measurement, seemingly a
    count-per-token aggregation) folds per row: sort the token array and
    take the longest run of equal adjacent tokens with ``F.aggregate``.
    An earlier revision exploded tokens through two hash aggregations +
    a join for the same numbers; the per-row form computes identical
    values with no shuffle at all, which also makes the operator
    STATELESS — it applies unchanged to a readStream (the streaming
    quality gate, tested in test_streaming_multimodal.py). The DuckDB
    twin keeps the relational groupBy formulation: same semantics, and
    the parity test is exactly the proof the two formulations agree."""
    text = F.coalesce(F.col("text"), F.lit(""))
    canon = normalized_for_fingerprint(text)
    n = F.size("toks")
    sorted_toks = F.array_sort("toks")
    run_state = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )
    joined = (
        df.select(
            F.col(id_col).alias("id"),
            F.round(
                F.length(F.regexp_replace(canon, "[a-z0-9 ]", ""))
                / F.greatest(F.length(canon), F.lit(1)),
                4,
            ).alias("symbol_ratio"),
            _tokens(text).alias("toks"),
        )
        .select(
            "id",
            "symbol_ratio",
            n.cast("long").alias("n_words"),
            F.when(
                n > 0,
                F.round(
                    F.aggregate(
                        "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
                    )
                    / n,
                    4,
                ),
            ).alias("mean_word_len"),
            F.when(n > 0, run_state.getField("best")).alias("top_c"),
        )
        .select(
            "id",
            "n_words",
            "mean_word_len",
            "symbol_ratio",
            F.round(F.col("top_c") / F.greatest("n_words", F.lit(1)), 4).alias(
                "top_word_ratio"
            ),
        )
    )
    reason = (
        F.when(F.col("n_words") < MIN_WORDS, "too_short")
        .when(F.col("n_words") > MAX_WORDS, "too_long")
        .when(
            (F.col("mean_word_len") < MIN_MEAN_WORD_LEN)
            | (F.col("mean_word_len") > MAX_MEAN_WORD_LEN),
            "word_len",
        )
        .when(F.col("symbol_ratio") > MAX_SYMBOL_RATIO, "symbol_heavy")
        .when(F.col("top_word_ratio") > MAX_TOP_WORD_RATIO, "repetitive")
    )
    return joined.select(
        F.col("id").alias(id_col),
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "top_word_ratio",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


# Gopher repetition thresholds (Rae et al. 2021, table A1 tradition).
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
MAX_DUP_PARA_FRAC = 0.30
MAX_TOP_BIGRAM_FRAC = 0.18


# Demonstration blockword list. The production C4/RefinedWeb deployment
# swaps in the published "List of Dirty, Naughty, Obscene..." terms (not
# vendored here — the mechanism, not the vocabulary, is the operator).
DEFAULT_BLOCKWORDS = ("xbadwordx", "xbannedx", "xforbiddenx")


def blockword_filter(df: DataFrame) -> DataFrame:
    """The C4-style blockword page gate: a page containing ANY listed word
    (token-exact, case-insensitive — substring matches like 'class' for
    'ass' are the documented false-positive this tokenized form avoids) is
    marked kept=false. Returns (id, n_blockwords, kept) — one row per
    input row, NULL text behaves like empty (kept).

    Shape: zero-shuffle stateless projection (tokenize + array_intersect
    against a literal array), so the same operator gates a stream; the
    word list rides in the task binary, never a join. At C4's real list
    size (~400 terms) the intersect is still per-row bounded work.
    Reference analog: the rule-table blocklist choosing which regions
    carry signal (one_key_process.py:1146-1165), applied at page level."""
    # regex tokens (not the whitespace split): 'xbadwordx.' must still hit
    toks = word_tokens(F.coalesce(F.col("text"), F.lit("")))
    bad = F.array(*[F.lit(w.lower()) for w in DEFAULT_BLOCKWORDS])
    n_bad = F.size(F.array_intersect(toks, bad))
    return df.select(
        F.col("doc_id"),
        n_bad.cast("long").alias("n_blockwords"),
        (n_bad == 0).alias("kept"),
    )


def _canon_units(col, sep_pattern: str):
    """Split on ``sep_pattern``, canonicalize each unit (lowercase, inner
    whitespace collapsed, trimmed), drop empties. Unit identity for the
    duplicate measurements."""
    return F.filter(
        F.transform(
            F.split(F.lower(col), sep_pattern),
            lambda x: F.trim(F.regexp_replace(x, "[ \t\n]+", " ")),
        ),
        lambda x: x != "",
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Within-document repetition signals in the Gopher tradition:
    (id, n_lines, dup_line_frac, dup_line_char_frac, n_paras,
    dup_para_frac, top_bigram_frac, repetitive). ``quality_filter`` grades
    token-level repetition; this operator grades STRUCTURAL repetition —
    the boilerplate mode where whole lines/paragraphs repeat (nav menus,
    footers, listing pages) that token ratios miss.

    - dup_line_frac: fraction of lines whose content also appears on
      another line of the same doc (count-based: 1 - distinct/total).
    - dup_line_char_frac: fraction of line characters inside lines that
      occur >= 2 times (all occurrences counted, Gopher's char variant).
    - dup_para_frac: count-based duplicate fraction over paragraphs
      (blank-line separated).
    - top_bigram_frac: characters covered by the most frequent word
      2-gram / canonical text length, zero unless that bigram repeats
      (a once-seen bigram is not repetition); ties break to the
      lexicographically smallest bigram so the value is deterministic.
    - repetitive: any threshold exceeded.

    Plan shape: PER-ROW higher-order functions only — zero exchanges,
    stateless, streaming-safe (same discipline as ``quality_filter``).
    Duplicate char counting and the top-bigram argmax fold over the
    SORTED unit array in one pass (runs of equal adjacent values), so
    per-row cost is O(units log units), never O(units^2). The DuckDB twin
    deliberately uses the relational unnest/groupBy formulation — parity
    proves the fold agrees with the relational semantics. NULL text
    coalesces to '' (every row survives with zero counts).
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = _canon_units(text, "\n")
    paras = _canon_units(text, "\n{2,}")
    canon = normalized_for_fingerprint(text)
    toks = _tokens(text)
    n_t = F.size(toks)

    def dup_chars(sorted_units):
        """Chars inside units occurring >= 2 times, over a sorted array:
        track the current run; flush run*len(unit) when it ends (and at
        finish). Initial prev='' never collides — empties were dropped."""
        return F.aggregate(
            sorted_units,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("dup"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1)
                .otherwise(F.lit(1).cast("long")).alias("run"),
                (
                    acc.dup
                    + F.when(
                        (x != acc.prev) & (acc.run >= 2),
                        acc.run * F.length(acc.prev),
                    ).otherwise(F.lit(0))
                ).cast("long").alias("dup"),
            ),
            lambda acc: acc.dup + F.when(
                acc.run >= 2, acc.run * F.length(acc.prev)
            ).otherwise(F.lit(0)),
        )

    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), F.greatest(n_t - 1, F.lit(0))),
        F.slice(toks, F.lit(2), F.greatest(n_t - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # argmax over sorted bigrams: strict '>' keeps the FIRST maximal run
    # in sorted order == lexicographically smallest on count ties.
    top_bg = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit("").alias("best_bg"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
            F.when(
                F.when(x == acc.prev, acc.run + 1)
                .otherwise(F.lit(1).cast("long")) > acc.best,
                x,
            ).otherwise(acc.best_bg).alias("best_bg"),
        ),
    )

    measured = df.select(
        F.col("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_lines_d"),
        dup_chars(F.array_sort(lines)).alias("dup_chars"),
        F.aggregate(
            lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("line_chars"),
        F.size(paras).cast("long").alias("n_paras"),
        F.size(F.array_distinct(paras)).cast("long").alias("n_paras_d"),
        top_bg.getField("best").alias("top_c"),
        top_bg.getField("best_bg").alias("top_bg"),
        F.length(canon).cast("long").alias("canon_len"),
    ).select(
        "doc_id",
        "n_lines",
        F.round(
            (F.col("n_lines") - F.col("n_lines_d"))
            / F.greatest("n_lines", F.lit(1)),
            4,
        ).alias("dup_line_frac"),
        F.round(
            F.col("dup_chars") / F.greatest("line_chars", F.lit(1)), 4
        ).alias("dup_line_char_frac"),
        "n_paras",
        F.round(
            (F.col("n_paras") - F.col("n_paras_d"))
            / F.greatest("n_paras", F.lit(1)),
            4,
        ).alias("dup_para_frac"),
        # a bigram seen once is not repetition — coverage counts only
        # repeated bigrams (otherwise every tiny unique doc trips the gate)
        F.round(
            F.when(
                F.col("top_c") >= 2,
                F.col("top_c") * F.length("top_bg"),
            ).otherwise(F.lit(0))
            / F.greatest("canon_len", F.lit(1)),
            4,
        ).alias("top_bigram_frac"),
    )
    return measured.withColumn(
        "repetitive",
        (F.col("dup_line_frac") > MAX_DUP_LINE_FRAC)
        | (F.col("dup_line_char_frac") > MAX_DUP_LINE_CHAR_FRAC)
        | (F.col("dup_para_frac") > MAX_DUP_PARA_FRAC)
        | (F.col("top_bigram_frac") > MAX_TOP_BIGRAM_FRAC),
    )


def bigram_lm_scores(df: DataFrame) -> DataFrame:
    """Corpus-self-trained bigram LM score per document (CCNet-style
    quality signal without an external model): mean over the document's
    bigrams of ln((c(w1,w2) + LM_ALPHA) / (c(w1) + LM_ALPHA * V)), where counts
    come from the corpus itself and V is the unigram vocabulary size.
    Natural-sounding documents score high; repetitive or out-of-
    distribution token streams score low. Returns (id, n_bigrams,
    lm_logprob) — documents with < 2 tokens get n_bigrams = 0 and NULL
    score (they're the rule filter's job, not the LM's).

    The count tables are vocabulary-sized (tiny next to the corpus), and
    V reaches the join as a broadcast 1-row aggregate — no driver
    collect anywhere."""
    toks = df.select(F.col("doc_id").alias("id"), _tokens("text").alias("toks"))
    bigrams = _explode_bigrams(toks)

    unigrams = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    bigram_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))

    scored = (
        bigrams.join(bigram_counts, ["w1", "w2"])
        .join(unigrams, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.log(
                (F.col("c2") + F.lit(LM_ALPHA))
                / (F.col("c1") + F.lit(LM_ALPHA) * F.col("v"))
            ).alias("lp"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("lm_logprob"),
        )
    )
    return (
        toks.select("id")
        .join(scored, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "lm_logprob",
        )
    )


def _explode_bigrams(toks: DataFrame) -> DataFrame:
    """(id, toks array) -> one (id, w1, w2) row per adjacent token pair."""
    return toks.select(
        "id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.struct(
                        F.col("toks")[i].alias("w1"),
                        F.col("toks")[i + 1].alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")


def fit_bigram_lm(ref: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the bigram LM on a REFERENCE corpus: (unigram counts, bigram
    counts, 1-row vocab size). This is the CCNet deployment shape —
    train the LM on a trusted corpus (their Wikipedia KenLM), then score
    the crawl against it — where ``bigram_lm_scores`` is the self-
    trained variant. The returned frames are vocabulary-sized model
    TABLES: persist them once (iceberg-lite/parquet) and every future
    ingest batch scores by joining the stored counts — the fit never
    re-runs per batch (the same persisted-model contract as the DSIR
    fit/apply split)."""
    toks = ref.select(F.lit(0).alias("id"), _tokens("text").alias("toks"))
    unigrams = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bigram_counts = (
        _explode_bigrams(toks)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    return unigrams, bigram_counts, vocab


def bigram_lm_apply(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """Score a TARGET corpus against a fitted bigram LM — the cross-
    corpus cousin of ``bigram_lm_scores``: same smoothed transition
    log-likelihood, but counts come from the model tables and UNSEEN
    words/bigrams take the smoothing floor (LEFT joins, counts
    coalesced to 0) instead of being guaranteed present. Out-of-
    distribution documents — exactly what the reference-vs-crawl split
    exists to find — score low instead of erroring. Returns (id,
    n_bigrams, oov_words, lm_logprob); < 2-token docs keep n_bigrams=0 /
    NULL score (never dropped).

    Scale shape: both count joins are vocabulary-sized (broadcast-
    eligible); the corpus side streams through them without a shuffle of
    its own beyond the per-doc aggregation."""
    unigrams, bigram_counts, vocab = model
    toks = df.select(F.col("doc_id").alias("id"), _tokens("text").alias("toks"))
    scored = (
        _explode_bigrams(toks)
        .join(bigram_counts, ["w1", "w2"], "left")
        .join(unigrams, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.col("c1").isNull().cast("long").alias("oov"),
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(LM_ALPHA))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(LM_ALPHA) * F.col("v"))
            ).alias("lp"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("oov").alias("oov_words"),
            F.round(F.avg("lp"), 4).alias("lm_logprob"),
        )
    )
    return (
        toks.select("id")
        .join(scored, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("oov_words", F.lit(0)).alias("oov_words"),
            "lm_logprob",
        )
    )
