"""One-pass per-document quality-signal table (the RedPajama-v2 shape:
ship SIGNALS, filter later).

The modern curation workflow computes dozens of per-document signals in
ONE pass over the corpus and stores them beside the text, so every later
mixture/threshold decision is a cheap filter over a narrow table instead
of a new 100 TB scan. This operator fuses this engine's stateless signal
families — token/quality stats, language guess, content fingerprint,
script mix, code-likeness — into a single projection:

    ONE parquet scan -> ONE WholeStageCodegen projection -> signals row

No shuffle, no Python, no joins (plan-pinned): at 100 TB the cost is the
scan itself, and the same operator body runs on a readStream. Each
constituent signal family keeps its own focused operator + planted
oracle (token_stats / lang_id / fingerprint / script_stats /
code_detect); this fusion's DuckDB twin re-states all of them over the
raw corpus in one SELECT, so the fused values are pinned cross-engine
too.

Reference analog: the single recognition pass that stamps every field's
confidence/diagnostic columns next to the extracted value
(one_key_process.py:796-896) rather than re-reading inputs per check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_md5,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    whitespace_token_count,
)
from .textprofile import code_columns, script_columns


def quality_signals(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The fused signal projection: one row per input row (NULL text
    behaves as empty) carrying
    (id, n_tokens, n_ws_tokens, punct_ratio, stopword_ratio, quality,
    lang_pred, fp, n_chars, <script>_frac x5, dominant_script, n_lines,
    indent_lines, sym_ratio, kw_hits, is_code) — 19 signals, one scan."""
    text = F.coalesce(F.col("text"), F.lit(""))
    script = script_columns(text)
    code = code_columns(text)
    return df.select(
        F.col(id_col),
        token_count(text).alias("n_tokens"),
        whitespace_token_count(text).alias("n_ws_tokens"),
        F.round(punct_ratio(text), 4).alias("punct_ratio"),
        F.round(stopword_ratio(text), 4).alias("stopword_ratio"),
        quality_score(text).alias("quality"),
        lang_id(text).alias("lang_pred"),
        fingerprint_md5(text).alias("fp"),
        *[c.alias(name) for name, c in script.items()],
        *[code[k].alias(k) for k in
          ("n_lines", "indent_lines", "sym_ratio", "kw_hits", "is_code")],
    )
