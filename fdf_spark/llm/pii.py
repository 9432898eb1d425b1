"""PII detection and redaction (N13): scrub emails / IPv4 addresses /
phone numbers from a text corpus before training.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

Everything is native ``regexp_count`` / ``regexp_replace`` column
expressions — JVM-side, whole-stage codegen, zero Python in the hot
path, and embarrassingly parallel (no shuffle at any corpus size).
The patterns stay inside the regex subset Java's engine and RE2
(DuckDB, Go tooling) interpret identically — no backreferences, no
lookaround — so the oracle replays the scrub bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: portable (Java regex ∩ RE2) detectors
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"

#: redaction order matters: emails first (they may embed digits/dots),
#: then IPs, then phones — each pass sees the previous pass's output
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def redact_text(text: Column) -> Column:
    """Apply every redaction rule in order; returns the scrubbed text."""
    out = text
    for _, pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def detect_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-document PII profile + scrubbed text.

    Returns ``(doc_id, n_email, n_ip, n_phone, n_pii, redacted)``.
    Each rule is counted on the text with all PRIOR rules already
    redacted — the same sequential view :func:`redact_text` substitutes
    on — so overlapping matches are never double-counted and ``n_pii``
    equals the exact number of substitutions made in ``redacted``.
    """
    counts = []
    cur = F.col(text)
    total = F.lit(0)
    for name, pattern, token in PII_RULES:
        c = F.regexp_count(cur, F.lit(pattern))
        counts.append(c.alias(f"n_{name}"))
        total = total + c
        cur = F.regexp_replace(cur, pattern, token)
    return df.select(
        F.col("doc_id"), *counts, total.alias("n_pii"), cur.alias("redacted")
    )
