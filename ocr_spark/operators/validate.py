"""Rule-based post-extraction QA — the DataValidator port (SURVEY §2.9).

The reference validates its output table with per-field range/type/required
checks, cross-field identities, completeness scoring, and a row-status
rollup, then aggregates a report (data_validator.py:115-186, 276-295,
456-466, 523-628). Here the same shapes are pure DataFrame expressions —
boolean check columns, a completeness fraction, a CASE-WHEN status rollup,
and groupBy report aggregations. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALLOWED_LANGS = ("en", "zh", "de", "fr", "es", "ja")


def validate_documents(df: DataFrame) -> DataFrame:
    """Row-level expectations over a documents-shaped table
    (doc_id, text, lang, source, n_chars).

    Checks (V1 range/required analog, data_validator.py:115-186):
      chk_text_required  text non-null and non-empty
      chk_len_range      n_chars in [1, 100000]
      chk_len_identity   n_chars == length(text)  (V3 cross-field identity
                         analog, data_validator.py:276-295)
      chk_lang           lang in the allowed vocabulary
    completeness = fraction of passed checks (V8, data_validator.py:523-551)
    status rollup (V10, data_validator.py:456-466):
      error if required-check failed; warn if any other check failed or
      completeness < 0.8; else ok.
    """
    chk_text = F.col("text").isNotNull() & (F.length("text") > 0)
    chk_len = F.col("n_chars").isNotNull() & F.col("n_chars").between(1, 100000)
    chk_ident = F.col("n_chars") == F.length("text")
    chk_lang = F.col("lang").isin(*ALLOWED_LANGS)

    checks = [
        ("chk_text_required", chk_text),
        ("chk_len_range", chk_len),
        ("chk_len_identity", chk_ident),
        ("chk_lang", chk_lang),
    ]
    out = df
    for name, c in checks:
        out = out.withColumn(name, F.coalesce(c, F.lit(False)))
    completeness = F.round(
        sum(F.col(n).cast("int") for n, _ in checks) / F.lit(float(len(checks))), 4
    )
    out = out.withColumn("completeness", completeness)
    status = (
        F.when(~F.col("chk_text_required"), "error")
        .when(
            ~F.col("chk_len_range")
            | ~F.col("chk_len_identity")
            | ~F.col("chk_lang")
            | (F.col("completeness") < 0.8),
            "warn",
        )
        .otherwise("ok")
    )
    return out.withColumn("status", status)


def validation_report(validated: DataFrame) -> DataFrame:
    """Report aggregation (A5/A6 analog, data_validator.py:553-602):
    per-status row counts + average completeness."""
    return (
        validated.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("completeness"), 4).alias("avg_completeness"),
        )
        .orderBy("status")
    )


DOC_CHECKS = ("chk_text_required", "chk_len_range", "chk_len_identity", "chk_lang")


def failing_check_topk(validated: DataFrame) -> DataFrame:
    """Top-k failing checks (the reference's top-10 error-field report, O2,
    data_validator.py:676-687): one full-table aggregate producing a single
    wide row of failure counts, then a driver-cheap unpivot — no shuffle of
    row-level data beyond the partial-aggregated counts."""
    aggs = [F.sum((~F.col(c)).cast("long")).alias(c) for c in DOC_CHECKS]
    wide = validated.agg(*aggs)
    pairs = ", ".join(f"'{c}', {c}" for c in DOC_CHECKS)
    unpivoted = wide.selectExpr(
        f"stack({len(DOC_CHECKS)}, {pairs}) as (check_name, n_failed)"
    )
    return unpivoted.orderBy(F.desc("n_failed"), F.asc("check_name")).limit(10)


# V2 warning-range bands (data_validator.py:204-213 classifies values into
# labeled ranges instead of a bare pass/fail): document length bands.
LENGTH_BANDS = ((1, 20, "tiny"), (20, 100, "short"), (100, 2000, "normal"),
                (2000, 100001, "long"))

SYMMETRY_TOL = 0.05

# V7 group-conditioned bands (data_validator.py:364-380: the muscle-ratio
# check whose acceptable range depends on the row's gender group): the
# expected n_chars band depends on the document's LANG group — zh is
# character-dense so long zh documents are suspect, en below 100 chars is
# suspiciously thin — and everything else gets the wide default. The same
# n_chars value can pass in one group and fail in another; that
# group-dependence is the whole point of the check.
LANG_CHAR_BANDS = {"zh": (60, 450), "en": (100, 600)}
DEFAULT_CHAR_BAND = (1, 100000)


def assess_documents(df: DataFrame) -> DataFrame:
    """Per-row assessment over documents — the deeper validator shapes:

    V2 banded classification (data_validator.py:204-213): ``length_band``
      labels n_chars into (tiny/short/normal/long/out_of_range) instead of
      a bare range boolean.
    V4 min-over-estimates (data_validator.py:305-322 takes the min of
      several independent estimates as the conservative value): ``len_est``
      = least(n_chars, length(text)); ``chk_min_estimate`` gates on it.
    V5 symmetry check (data_validator.py:324-339 compares two columns that
      should agree within a relative tolerance): ``sym_ratio`` =
      |n_chars - length(text)| / greatest(both, 1) with ``chk_symmetry``
      at tolerance 0.05.
    V7 group-conditioned band (data_validator.py:364-380, the
      gender-specific muscle-ratio band): ``chk_lang_band`` gates n_chars
      against the LANG group's expected band (LANG_CHAR_BANDS), so the
      same length can pass as 'de' and fail as 'zh'; a failing group band
      demotes an otherwise-excellent assessment to good.
    V9 assessment label (data_validator.py:474-521 rolls per-row scores
      into a graded label): excellent / good / fair / poor from the
      completeness fraction.
    """
    v = validate_documents(df)
    n = F.coalesce(F.col("n_chars").cast("long"), F.lit(-1))
    band = F.lit("out_of_range")
    for lo, hi, label in reversed(LENGTH_BANDS):
        band = F.when((n >= lo) & (n < hi), label).otherwise(band)
    ln = F.length(F.coalesce(F.col("text"), F.lit("")))
    est = F.least(n, ln)
    diff = F.abs(n - ln)
    denom = F.greatest(n, ln, F.lit(1))
    sym_ratio = F.round(diff.cast("double") / denom.cast("double"), 4)
    lang_band = F.lit("default")
    chk_lang_band = n.between(*DEFAULT_CHAR_BAND)
    for lang, (lo, hi) in LANG_CHAR_BANDS.items():
        in_group = F.col("lang") == lang
        lang_band = F.when(in_group, lang).otherwise(lang_band)
        chk_lang_band = F.when(in_group, n.between(lo, hi)).otherwise(
            chk_lang_band
        )
    base_assessment = (
        F.when(F.col("completeness") >= 1.0, "excellent")
        .when(F.col("completeness") >= 0.75, "good")
        .when(F.col("completeness") >= 0.5, "fair")
        .otherwise("poor")
    )
    assessment = F.when(
        ~chk_lang_band & (base_assessment == "excellent"), "good"
    ).otherwise(base_assessment)
    return v.select(
        "doc_id",
        band.alias("length_band"),
        est.alias("len_est"),
        (est >= 1).alias("chk_min_estimate"),
        sym_ratio.alias("sym_ratio"),
        (sym_ratio <= SYMMETRY_TOL).alias("chk_symmetry"),
        lang_band.alias("lang_band"),
        chk_lang_band.alias("chk_lang_band"),
        "completeness",
        assessment.alias("assessment"),
    )


CORR_FLAG_MIN = 0.7


def _pearson(x, y):
    """Pearson r as covar_samp / (stddev*stddev) with an explicit zero-
    variance guard -> NULL. Spark's builtin corr raises DIVIDE_BY_ZERO
    under ANSI when a column is constant (e.g. a ratio that is 0 for every
    document); a validator must report 'no correlation established', not
    crash the job."""
    sx, sy = F.stddev_samp(x), F.stddev_samp(y)
    return F.when((sx == 0) | (sy == 0), F.lit(None).cast("double")).otherwise(
        F.covar_samp(x, y) / (sx * sy)
    )


def correlation_flags(df: DataFrame) -> DataFrame:
    """V6 correlation flags (data_validator.py:341-362: columns expected to
    move together are flagged when their Pearson correlation drops below a
    threshold). One full-table aggregate computes every pair's corr
    (map-side partial moments, one reduce), then a driver-cheap unpivot:
    (pair, corr, flagged). Pairs: the cross-field identity pair
    (n_chars vs length), a structural pair (length vs whitespace tokens),
    and a deliberately weak pair (stopword ratio vs length) so the flag
    path is exercised, not just the happy path. A NULL corr (zero-variance
    column) is flagged: no established correlation is itself a finding."""
    from ..functions.text import stopword_ratio, whitespace_token_count

    ln = F.length(F.coalesce(F.col("text"), F.lit("")))
    pairs = {
        "n_chars_vs_len": _pearson(F.col("n_chars"), ln),
        "len_vs_ws_tokens": _pearson(ln, whitespace_token_count("text")),
        "stopword_vs_len": _pearson(stopword_ratio("text"), ln),
    }
    wide = df.agg(*[F.round(c, 4).alias(k) for k, c in pairs.items()])
    stacked = ", ".join(f"'{k}', {k}" for k in pairs)
    out = wide.selectExpr(f"stack({len(pairs)}, {stacked}) as (pair, corr)")
    return out.select(
        "pair",
        "corr",
        F.coalesce(F.col("corr") < CORR_FLAG_MIN, F.lit(True)).alias("flagged"),
    ).orderBy("pair")


def validate_extracted(df: DataFrame) -> DataFrame:
    """Expectations over the engine's own output table (extracted shape) —
    transposed validation_rules (FIXTURES.md §5): text length floor per
    content_kind, status vocabulary, bytes accounting."""
    chk_status = F.col("extract_status").rlike("^(ok|ok_lenient|empty|fallback_text|error:)")
    chk_ok_nonempty = (~F.col("extract_status").startswith("ok")) | (F.length("text") > 0)
    chk_bytes = F.col("bytes_out") == F.length(F.encode(F.coalesce("text", F.lit("")), "UTF-8"))
    chk_blocks = (F.col("content_kind") != "html") | (F.col("extract_status") != "ok") | (
        F.col("n_blocks") > 0
    )
    out = (
        df.withColumn("chk_status_vocab", F.coalesce(chk_status, F.lit(False)))
        .withColumn("chk_ok_nonempty", F.coalesce(chk_ok_nonempty, F.lit(False)))
        .withColumn("chk_bytes_accounting", F.coalesce(chk_bytes, F.lit(False)))
        .withColumn("chk_blocks_when_ok", F.coalesce(chk_blocks, F.lit(False)))
    )
    ok_all = (
        F.col("chk_status_vocab")
        & F.col("chk_ok_nonempty")
        & F.col("chk_bytes_accounting")
        & F.col("chk_blocks_when_ok")
    )
    return out.withColumn("status", F.when(ok_all, "ok").otherwise("error"))
