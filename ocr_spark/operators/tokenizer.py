"""Distributed BPE tokenization: sample-fit, broadcast-apply.

Production tokenizers are FIT once on a bounded sample (single-node —
the HF-tokenizers deployment shape) and APPLIED corpus-wide; the apply is
what must scale. This module does exactly that, Spark-first:

- ``core.bpe.build_word_map``: the pure serial fit (golden-pinned).
- ``bpe_encode``: corpus-wide apply as a ZERO-SHUFFLE stateless
  projection — the fitted word->tokens map rides the task binary as a
  map literal (at production vocab sizes, swap in a broadcast join on
  the word column; identical semantics), unfitted words encode to the
  single token '<unk>'. Streaming-safe.

Word-level memoization is the published fast path for corpus-scale BPE
(token sequences depend only on the word, so the map IS the encoder);
open-vocabulary corpora fall back per unseen word — here to '<unk>',
the bounded-vocab convention this engine's synthetic corpus justifies
(disclosed; a char-fallback is a one-line change on both engines).

Determinism/oracle: the fitted map is a pure function of the training
counts; the apply is tokenize + lookup + join, so
``__spark_entry__._bpe_tokens_oracle`` replays the WHOLE application —
the map embedded as VALUES, the same md5 fingerprint over the decoded
token stream. The fit itself is non-SQL-expressible (iterative) and is
instead pinned by hand-computed goldens.

Reference analog: the engine-init amortization contract (E2) — the
recognition model is loaded once and served per batch
(one_key_process.py:1056-1076); here the "model" is the merge table.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

UNK = "<unk>"


def _map_literal(word_map: dict[str, str]) -> Column:
    return F.create_map(
        *chain.from_iterable((F.lit(w), F.lit(t)) for w, t in sorted(word_map.items()))
    )


def _encode_cols(word_map: dict[str, str]) -> tuple[Column, Column, Column, Column, Column]:
    """The shared apply expressions: (full token stream, n_words,
    n_tokens, n_unk, n_bytes) for one document's ``text`` — all pure JVM."""
    toks = word_tokens(F.coalesce(F.col("text"), F.lit("")))
    m = _map_literal(word_map)
    mapped = F.transform(toks, lambda w: F.coalesce(F.element_at(m, w), F.lit(UNK)))
    full = F.array_join(mapped, " ")
    n_tokens = F.when(full == "", F.lit(0)).otherwise(
        F.size(F.split(full, " "))
    ).cast("long")
    n_words = F.size(toks).cast("long")
    n_unk = F.size(F.filter(mapped, lambda x: x == UNK)).cast("long")
    n_bytes = F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    return full, n_words, n_tokens, n_unk, n_bytes


def bpe_encode(df: DataFrame, word_map: dict[str, str]) -> DataFrame:
    """Apply a fitted encoder corpus-wide. Returns one row per input row
    (NULL text = empty): (id, n_words, n_tokens, n_unk, tokens_fp) with
    tokens_fp = md5 over the space-joined token stream — the compact
    value-identity the oracle compares."""
    full, n_words, n_tokens, n_unk, _ = _encode_cols(word_map)
    return df.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        n_unk.alias("n_unk"),
        F.md5(full).alias("tokens_fp"),
    )


def fertility_by_lang(df: DataFrame, word_map: dict[str, str]) -> DataFrame:
    """Per-language tokenizer audit of a fitted encoder — the table a
    multilingual curation pipeline reads before committing to a tokenizer
    (mT5/XLM-R-style fertility comparison): for each language the doc
    count, exact word/token/unk/byte totals, and the derived 4-dp ratios
    **fertility** (tokens per word — how much the tokenizer fragments
    this language), **bytes_per_token** (compression — how much raw text
    one token buys), and **unk_rate** (vocabulary coverage).

    Shape: the encode is the zero-shuffle ``bpe_encode`` projection; the
    rollup is ONE map-side-combined groupBy on the language key (output
    rows = languages, not documents). Ratios divide exact BIGINT sums and
    round to 4 dp, so the DuckDB twin replays them bit-for-bit. Zero-word
    or zero-token groups report 0.0 ratios (never a NULL/NaN division)."""
    full, n_words, n_tokens, n_unk, n_bytes = _encode_cols(word_map)
    per = df.select(
        F.col("lang"),
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        n_unk.alias("n_unk"),
        n_bytes.alias("n_bytes"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_unk").alias("n_unk"),
        F.sum("n_bytes").alias("n_bytes"),
    )

    def ratio(num: str, den: str) -> Column:
        return F.when(
            F.col(den) > 0, F.round(F.col(num) / F.col(den), 4)
        ).otherwise(F.lit(0.0))

    return agg.select(
        "lang", "n_docs", "n_words", "n_tokens", "n_unk", "n_bytes",
        ratio("n_tokens", "n_words").alias("fertility"),
        ratio("n_bytes", "n_tokens").alias("bytes_per_token"),
        ratio("n_unk", "n_tokens").alias("unk_rate"),
    ).orderBy("lang")
