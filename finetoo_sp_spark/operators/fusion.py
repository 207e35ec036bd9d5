"""Reciprocal-rank fusion of quality signals.

Curation pipelines end up with several incomparable per-document
quality scores — Gopher rule counts, CCNet perplexity buckets, a
classifier logit, PageRank — on wildly different scales. Rank fusion
(Cormack et al., SIGIR'09) sidesteps calibration entirely: each
signal contributes 1/(k + rank(doc)) and documents are kept by the
fused sum, which is robust to any monotone rescaling of any input.

Determinism discipline: ranks are dense ranks over (score DESC,
id ASC) — the id tiebreak makes every rank, and hence the fused
value, a pure function of the data; the fused score is **integer
fixed point** (SCALE div (RRF_K + rank), summed as integers) so partial
sums are order-independent and the whole operator is exactly portable
to the SQL oracle.

Scale shape: one global window per signal, ``Window.partitionBy()``
ordered by (score DESC, id ASC). Each is a single-partition sort, so
the input must be post-gate sized: the few-per-thousand survivors of
the cheap gates (the usual fusion input), dimension-small by
construction, never the raw corpus. The audit asserts the window shape
on the registered query.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000
RRF_K = 60  # the RRF paper's constant


def rrf_fuse(
    df: DataFrame,
    id_col: str,
    signal_cols: Mapping[str, Column | str],
) -> DataFrame:
    """(id, rank_<signal>..., rrf_fp) — fused integer RRF score.

    ``signal_cols`` maps output-name -> score column (higher = better).
    Ties break by id ASC, so every rank is deterministic.
    """
    from pyspark.sql.window import Window

    out = df.select(F.col(id_col).alias("id"), *[
        (F.col(c) if isinstance(c, str) else c).alias(f"sig_{name}")
        for name, c in signal_cols.items()
    ])
    fused = F.lit(0).cast("long")
    keep = ["id"]
    for name in signal_cols:
        w = Window.partitionBy().orderBy(
            F.desc(f"sig_{name}"), F.asc("id")
        )
        rank_col = f"rank_{name}"
        out = out.withColumn(rank_col, F.rank().over(w).cast("long"))
        keep.append(rank_col)
        fused = fused + F.expr(f"{SCALE}L div ({RRF_K}L + {rank_col})")
    return out.select(*keep, fused.alias("rrf_fp"))
