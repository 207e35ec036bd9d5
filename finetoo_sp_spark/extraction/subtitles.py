"""WebVTT / SRT subtitle parsing: caption files -> typed cue rows.

The text half of a video-caption training corpus: crawled .vtt/.srt
sidecar files (W3C WebVTT; the de-facto SubRip format) parse into
(url, block_pos, start_ms, end_ms, text) rows that join video assets
by url — the alignment table caption-pairing pipelines consume.

Parsing is declarative JVM column work: split the body into
blank-line-separated blocks, posexplode, keep blocks carrying a
``-->`` timing line, lift the two timestamps (WebVTT uses ``.`` for
milliseconds and allows bare mm:ss.mmm; SRT uses ``,`` and full
hh:mm:ss,mmm) and join the remaining lines as the cue text. Cue
settings after the end timestamp (``align:start`` …) and SRT numeric
counters are dropped. ``block_pos`` is the block's position in the
file (the WEBVTT header block occupies position 0, so VTT cues start
at 1) — a deterministic document-order key with no window function.
No UDF, no shuffle: narrow plan, linear in input bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS = r"(?:(\d+):)?(\d+):(\d+)[.,](\d+)"


def _ts_ms(block, which: int):
    """Timestamp ``which`` (0 start, 1 end) of the block's timing line,
    as integer milliseconds; bare mm:ss.mmm parses with hours 0."""
    line = F.regexp_extract(block, rf"(?m)^\s*({_TS}\s*-->\s*{_TS}).*$", 1)
    part = F.regexp_extract(line, rf"^\s*{_TS}\s*-->\s*{_TS}", 0)
    idx = 1 if which == 0 else 5
    h = F.regexp_extract(part, rf"^\s*{_TS}\s*-->\s*{_TS}", idx)
    m = F.regexp_extract(part, rf"^\s*{_TS}\s*-->\s*{_TS}", idx + 1)
    s = F.regexp_extract(part, rf"^\s*{_TS}\s*-->\s*{_TS}", idx + 2)
    ms = F.regexp_extract(part, rf"^\s*{_TS}\s*-->\s*{_TS}", idx + 3)
    return (
        F.coalesce(F.nullif(h, F.lit("")).cast("long"), F.lit(0)) * 3600000
        + m.cast("long") * 60000
        + s.cast("long") * 1000
        + F.rpad(ms, 3, "0").cast("long")
    )


def parse_subtitles(df: DataFrame) -> DataFrame:
    """(url, body) caption files -> (url, block_pos, start_ms, end_ms,
    text) per cue (module doc)."""
    blocks = F.split(F.col("body"), r"\r?\n[ \t]*\r?\n")
    e = df.select(
        "url",
        F.posexplode(blocks).alias("block_pos", "_b"),
    ).filter(F.col("_b").rlike(r"-->"))
    text = F.array_join(
        F.filter(
            F.split(
                F.regexp_replace(  # drop everything through the timing line
                    F.col("_b"), rf"(?s)^.*?{_TS}\s*-->\s*{_TS}[^\n]*\n?", ""
                ),
                r"\r?\n",
            ),
            lambda ln: ln != "",
        ),
        "\n",
    )
    return e.select(
        "url",
        F.col("block_pos").cast("long").alias("block_pos"),
        _ts_ms(F.col("_b"), 0).alias("start_ms"),
        _ts_ms(F.col("_b"), 1).alias("end_ms"),
        text.alias("text"),
    ).filter(F.col("start_ms").isNotNull() & F.col("end_ms").isNotNull())
