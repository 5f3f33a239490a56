"""PII scrubbing for training-data pipelines (engine extension; no
reference counterpart — the reference consumes curated PubMed text, but a
web-crawl corpus must be scrubbed of emails / IPs / phone numbers before
any tokens reach a trainer).

Spec (shared verbatim with the DuckDB oracle in __spark_entry__):

  * three pattern classes, applied IN ORDER (email, then IPv4, then
    phone) — order matters because a scrubbed email can no longer
    contribute digits to an IP match;
  * counts are taken on the ORIGINAL text per class, replacements on the
    sequentially-scrubbed text;
  * patterns are restricted to the Java-regex ∩ RE2 dialect (no
    lookarounds, no backrefs), so Spark and DuckDB match identically.

Everything is built-in ``regexp_replace`` / ``regexp_extract_all`` —
JVM-side, whole-stage codegen, no Python: scrubbing 100 TB is a map-only
scan with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied top to bottom.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
    ("phone", r"\+[0-9]{1,3}[ \-][0-9]{3,4}[ \-][0-9]{4,7}",
     "<PHONE>"),
]


def scrubbed_text(col) -> Column:
    """The text with every PII class replaced, classes applied in spec
    order."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col) -> list[Column]:
    """One ``n_<class>`` count column per pattern class, on the original
    text."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Per-document PII counts + the scrubbed text (map-only)."""
    return docs.select(
        "doc_id",
        *pii_counts("text"),
        scrubbed_text("text").alias("clean_text"),
    )
