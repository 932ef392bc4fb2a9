"""PII detection and redaction for text columns — the scrubbing stage a
training-data pipeline runs before anything ships to a tokenizer.

Pure `regexp_replace` / `regexp_count` chains: JVM-side, whole-stage
codegen, embarrassingly parallel — at 100 TB this is a single scan with
full column pruning and zero shuffles. Patterns are ordered so that more
specific matches win (emails before bare ID runs, URLs before hostnames).

The pattern set covers the classic training-corpus scrubbing targets
(emails, URLs, IPv4, phone-shaped numbers, long digit runs / IDs). It is
deliberately a *heuristic* sweep, same as the public C4/Dolma cleanup
recipes — a recall-oriented regex pass, not a compliance guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered (name, pattern, replacement-token). Order matters: a pattern's
# redaction must not destroy the match material of a later pattern in a
# way that creates false positives (e.g. emails are consumed before the
# bare digit-run rule can eat their numeric local parts).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # phone requires a + prefix or NANP-style separators, so a BARE long
    # digit run falls through to id_run (<ID>) — deterministic ordering,
    # no lookaheads (the oracle engine is RE2).
    ("phone", r"\+\d[\d\s().-]{7,}\d|\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}", "<PHONE>"),
    ("id_run", r"\d{6,}", "<ID>"),
]


def redact(text: Column) -> Column:
    """Apply every pattern in order, replacing matches with its token."""
    out = text
    for _name, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts for the audit trail.

    Counts are taken pattern-by-pattern on progressively redacted text,
    mirroring `redact`'s order, so a substring claimed by an earlier
    pattern is not double-counted by a later one (an email's digits do
    not also count as an id_run).
    """
    counts: dict[str, Column] = {}
    cur = text
    for name, pat, token in PII_PATTERNS:
        counts[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    return counts


def pii_redact(
    df: DataFrame,
    text_cols: list[str],
    with_counts: bool = True,
) -> DataFrame:
    """Redact every listed column in place; optionally append per-pattern
    hit counts summed across the listed columns (``n_email`` etc.).

    Scale notes: one projection, no shuffle, no Python. Counts and the
    redacted text share the scan, so auditing costs nothing extra. On a
    100 TB corpus this runs at parquet-scan speed; pair with a
    ``WHERE n_email + n_phone + ... > 0`` post-filter to quarantine hot
    documents without a second pass.
    """
    out_cols: dict[str, Column] = {}
    for c in text_cols:
        out_cols[c] = redact(F.col(c))
    if with_counts:
        # one progressive-redaction count chain per column, reused for
        # every pattern (not rebuilt per pattern — P*C trees, not P^2*C)
        per_col = {c: pii_counts(F.col(c)) for c in text_cols}
        for name, _pat, _tok in PII_PATTERNS:
            out_cols[f"n_{name}"] = sum(
                (per_col[c][f"n_{name}"] for c in text_cols),
                start=F.lit(0),
            )
    return df.withColumns(out_cols)
