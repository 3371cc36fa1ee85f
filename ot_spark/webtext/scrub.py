"""PII scrubbing for document text: emails, IPv4 addresses, phone numbers.

The standard pre-training redaction pass (C4/RefinedWeb-style).  Pure JVM
``regexp_replace``/``regexp_count`` Column algebra — no Python in the hot
path, fully map-side, zero shuffles at any scale.

Pattern dialect: Spark compiles Java regex, DuckDB (the correctness
oracle) compiles RE2.  Every pattern here stays inside the common subset —
character classes, bounded repetition, alternation groups, ``\\b`` word
boundaries; no lookaround, no backreferences — so both engines match
identically.

Supported-format envelope (documented limits, not bugs):
- email: RFC-5322-lite (dot-atom local part @ dotted domain, ASCII only).
- ipv4: dotted-quad with octets range-checked to 0-255.
- phone: '+'-prefixed E.164 (9-14 digits), or separator-punctuated
  national formats like ``(555) 123-4567`` / ``555-123-4567`` /
  ``+1 555 123 4567``.  Bare 10-digit runs without separators are NOT
  treated as phones (too many false positives against ids/timestamps).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# range-checked 0-255, leading zeros allowed ("192.168.000.001" is a
# common textual form); 256+ octets fail the whole dotted-quad match
_OCTET = r"(25[0-5]|2[0-4]\d|[01]?\d?\d)"

# ordered: emails first (their local part would otherwise be half-eaten by
# later rules), then IPs (dotted digits), then phones
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b" + _OCTET + r"(\." + _OCTET + r"){3}\b", "<IP>"),
    (
        "phone",
        r"\+\d{9,14}\b"
        r"|(\+\d{1,3}[ .-]?)?(\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}\b",
        "<PHONE>",
    ),
]


def scrub_text(text: Column) -> Column:
    out = text
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Counts are taken on the ORIGINAL text, in rule order, BEFORE any
    replacement — an email's digits must not be double-counted as a phone
    (the replacement tokens contain no digits or '@', so scrub order and
    count order agree)."""
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("long")
        for name, pat, _ in PII_RULES
    }


def with_pii_scrub(df: DataFrame) -> DataFrame:
    """Adds ``n_email``/``n_ipv4``/``n_phone`` counts and ``text_scrubbed``."""
    text = F.col("text")
    return df.withColumns(
        {**pii_counts(text), "text_scrubbed": scrub_text(text)}
    )
