"""Soft-404 detection over extraction output.

A large share of dead pages on the real web answer HTTP 200 with an
error page body ("page not found", "no longer available") — crawls
record them as live documents, and they pollute training corpora with
near-identical junk that per-page quality scores rate as fine (short
but grammatical English). The standard cleaner is a phrase-based
detector over the EXTRACTED title/h1/body (the signals survive
boilerplate stripping), which is what this module provides:

    is_soft404 = phrase in title
               | phrase in h1
               | (phrase in body text AND content_chars < thin_chars)

The body clause is gated on thin content so a legitimate article
ABOUT 404 pages (long-form text that merely mentions the phrase)
never flags — the classic false-positive of naive substring checks.
``reason`` reports which clause fired ('title' > 'h1' > 'body' >
'ok') so corpus audits can stratify.

Everything is JVM column ops (lower + rlike against one compiled
alternation), no UDF, no shuffle — the flag composes onto the
extraction output like the compliance columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic, documented phrase list (lowercase). Word-ish
# boundaries via the surrounding pattern, not \b (digits in '404').
SOFT404_PHRASES = [
    "page not found",
    "404 not found",
    "404 error",
    "error 404",
    "not be found",
    "does not exist",
    "no longer available",
    "page you requested",
    "page has been removed",
]

_PATTERN = "(" + "|".join(p.replace(" ", "\\s+") for p in SOFT404_PHRASES) + ")"


def _hit(col: Column) -> Column:
    return F.lower(col).rlike(_PATTERN)


def soft404_flags(extracted: DataFrame) -> DataFrame:
    """extraction output (url, title, h1, text, content_chars) ->
    (url, is_soft404, reason)."""
    title_hit = _hit(F.coalesce(F.col("title"), F.lit("")))
    h1_hit = _hit(F.coalesce(F.col("h1"), F.lit("")))
    body_hit = _hit(F.coalesce(F.col("text"), F.lit(""))) & (
        F.col("content_chars") < 200
    )
    reason = (
        F.when(title_hit, F.lit("title"))
        .when(h1_hit, F.lit("h1"))
        .when(body_hit, F.lit("body"))
        .otherwise(F.lit("ok"))
    )
    return extracted.select(
        "url",
        (title_hit | h1_hit | body_hit).alias("is_soft404"),
        reason.alias("reason"),
    )
