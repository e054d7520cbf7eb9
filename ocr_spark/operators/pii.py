"""PII detection and redaction over document text.

Every production web-text pipeline masks personally identifiable
information before training (emails, phone numbers, IP addresses — the
C4/Dolma-style scrub). The reference's closest analog is its
field-sanitization pass before report emission (data_validator.py's
typed-field coercion); here the same "detect, count, and rewrite" shape
runs as pure JVM regexp expressions over the corpus.

Scale posture: counts come from ``regexp_extract_all`` and rewrites from
chained ``regexp_replace`` — per-row, zero shuffle, streaming-safe, and
whole-stage-codegen friendly. Patterns are restricted to the syntax
subset with identical semantics in Java regex (Spark) and RE2 (DuckDB):
character classes, bounded repetition, and ``\\b`` — so the operator is
exactly SQL-replayable (twin in ``__spark_entry__``).

Redaction replaces matches with digit-free placeholder tokens, so a later
pattern can never match inside an earlier pattern's replacement
(order: email -> ipv4 -> phone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Engine-portable patterns (Java regex == RE2 on this subset).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{9,15}"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def pii_redact(df: DataFrame) -> DataFrame:
    """Per-document PII scrub: (id, n_emails, n_ipv4, n_phones, n_pii,
    red_fp) where ``red_fp`` is the first 16 hex chars of the md5 of the
    REDACTED text — a compact engine-portable witness that the rewrite
    itself (not just the counts) matches the oracle byte-for-byte.

    NULL text is coalesced to '' so every input row survives to the
    output with zero counts (the family's never-drop contract).
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN),
            IPV4_RE, IPV4_TOKEN,
        ),
        PHONE_RE, PHONE_TOKEN,
    )
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0)))
    return df.select(
        F.col("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phones.cast("long").alias("n_phones"),
        (n_emails + n_ipv4 + n_phones).cast("long").alias("n_pii"),
        F.substring(F.md5(F.encode(redacted, "UTF-8")), 1, 16).alias("red_fp"),
    )
