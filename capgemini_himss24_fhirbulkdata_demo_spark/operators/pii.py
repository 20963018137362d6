"""PII redaction over text columns (training-data pipeline extension;
the C4/CCNet-style scrub stage: emails, phone numbers, IP addresses).

All JVM-side built-ins (``regexp_replace`` / ``regexp_count`` — no
Python UDFs), so the scrub is a narrow, zero-shuffle map that
pipelines with quality gates and dedup at 100 TB. Patterns are kept
in the RE2-compatible subset (no backrefs, no lookaround) so the same
strings run identically on Spark's Java regex and DuckDB/RE2 — which
is also what keeps the differential oracle (x44) exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Order matters: emails are redacted before IPs/phones so the dotted
# host part of an address is never half-eaten by the IP pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"555-[0-9]{4}", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Return ``col`` with every PII match replaced by its tag."""
    out = col
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(col: Column) -> list[Column]:
    """Per-kind match counts (aliased ``n_<kind>``), counted on the
    progressively-redacted text exactly like :func:`redact_pii` sees
    it, so overlapping patterns never double-count."""
    cols: list[Column] = []
    cur = col
    for kind, pat, tag in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).cast("bigint").alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, tag)
    return cols

