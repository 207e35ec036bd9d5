"""PII detection + redaction (emails, phones, IPv4, SSN-shaped ids).

The standard pre-training privacy pass (BigScience ROOTS / RefinedWeb /
FineWeb all ship one): detect PII-shaped spans with anchored regexes and
mask them before the corpus is packed. No reference analogue (the
reference has no text-privacy surface) — this is the
training-data-pipeline extension surface.

Spark-first shape: every detector is a single JVM ``regexp_count`` and
every mask a ``regexp_replace`` link in one chain — narrow plan, no
shuffle, no UDF, whole-stage codegen end to end. At 100 TB this is a
map-only pass whose cost is the regex automata, not the framework.

Regex dialect discipline: the patterns below restrict themselves to the
syntax subset with identical semantics in Java regex (Spark) and RE2
(DuckDB): character classes, bounded repetition, non-capturing groups,
ASCII ``\\b``. No backreferences, no lookaround, no alternation whose
leftmost-first resolution differs between a backtracker and RE2. The
contract oracle is RELATIONAL (it reconstructs expected counts and the
redacted string from the synthesis parameters without running any
regex), so an over- or under-matching pattern fails the value check
instead of being mirrored.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One pattern per PII class. Kept as module constants so tests can pin
# hand-written cases against the exact strings the operator compiles.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"

# Dotted-quad with per-octet range check; \b so '1234.5.6.7' can't shed
# digits into a match.
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
IPV4_RE = rf"\b{_OCTET}(?:\.{_OCTET}){{3}}\b"

# NANP-shaped phone: 3-3-4 with explicit separators (separator-free
# 10-digit runs are deliberately NOT matched — order ids and timestamps
# would flood the detector with false positives).
PHONE_RE = r"\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}\b"

# US-SSN-shaped 3-2-4 id. Distinct from PHONE_RE's 3-3-4 groups, so the
# two detectors can never claim the same span.
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"

MASKS = (
    (EMAIL_RE, "[EMAIL]"),
    (IPV4_RE, "[IP]"),
    (SSN_RE, "[SSN]"),
    (PHONE_RE, "[PHONE]"),
)


def redacted_col(text: Column) -> Column:
    """The mask chain as a column expression (email -> ip -> ssn ->
    phone; SSN before phone so the 3-2-4 shape is claimed by the more
    specific detector first)."""
    out = text
    for pat, mask in MASKS:
        out = F.regexp_replace(out, pat, mask)
    return out


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_emails, n_phones, n_ipv4, n_ssn, has_pii, redacted) — one
    narrow pass: four regexp_count detectors over the raw text plus the
    regexp_replace mask chain. Counts are taken on the RAW text (the
    audit signal); ``redacted`` is what the corpus keeps.
    """
    t = F.col(text_col)
    counts = {
        "n_emails": EMAIL_RE,
        "n_phones": PHONE_RE,
        "n_ipv4": IPV4_RE,
        "n_ssn": SSN_RE,
    }
    cols = [F.col(id_col).alias("id")]
    cols += [F.regexp_count(t, F.lit(pat)).cast("long").alias(name) for name, pat in counts.items()]
    has = None
    for name in counts:
        c = F.col(name) > 0
        has = c if has is None else has | c
    staged = df.select(*cols, redacted_col(t).alias("redacted"))
    return staged.select(
        "id",
        *counts.keys(),
        has.alias("has_pii"),
        "redacted",
    )

