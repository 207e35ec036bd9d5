"""Spark-side extraction pipeline: pages DataFrame -> extracted DataFrame.

Scale design (BASELINE.json north_rule, 10^12-row design point):

- all per-page work happens inside ``mapInArrow``: the kernel takes
  Spark's Arrow batch and returns a ``pa.RecordBatch`` in the output's
  Arrow schema, so no column goes through a per-row pandas conversion —
  a narrow, shuffle-free map stage that scales linearly with executors;
- optional explicit ``repartition(n, xxhash64(url))`` *before* the map
  stage defuses host-level skew (many pages per host landing in one input
  split) — the reference has no analogue (single-threaded), this is the
  job-level design SURVEY.md §4.1 calls out;
- no collect, no driver-side loops; the output is a DataFrame the caller
  writes with ``sources.lineage.write_with_manifests``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache

import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from finetoo_sp_spark.extraction.kernel import EXTRACT_ARROW_SCHEMA, extract_batch

# The kernel's output schema is the one declaration; Spark's is read off it.
EXTRACT_SCHEMA = from_arrow_schema(EXTRACT_ARROW_SCHEMA)


def url_salt(n_buckets: int, hash_mode: str = "xxhash64") -> Column:
    """Deterministic bucket id of the ``url`` column: ``pmod(hash(url), n_buckets)``.

    Used both for skew-defusing repartition and for lineage-manifest
    partitioning (resume granularity). ``hash_mode='sha'`` uses the
    sha256-derived 60-bit hash that DuckDB can reproduce — the
    verification mode that lets the manifest table itself sit under a
    value oracle; production keeps xxhash64.
    """
    from finetoo_sp_spark.operators.dedup import _base_hash

    return F.pmod(_base_hash(F.col("url"), hash_mode), F.lit(n_buckets)).cast("int")


def _murmur3_int(k: int) -> int:
    """Spark's ``hash()`` of an int (Murmur3_x86_32.hashInt, seed 42) —
    the hash ``HashPartitioning`` takes ``pmod`` of to pick a partition."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl(k * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & m
    h ^= h >> 13
    h = h * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@lru_cache(maxsize=64)
def _placement_keys(n: int) -> tuple[int, ...]:
    """``keys[b]`` = the smallest int k with ``pmod(hash(k), n) == b``."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(_murmur3_int(k) % n, k)
        k += 1
    return tuple(keys[b] for b in range(n))


def place_buckets(df: DataFrame, n_buckets: int) -> DataFrame:
    """Repartition on ``bucket`` into ``P = min(n, defaultParallelism)``
    partitions, bucket ``b`` going to partition ``b * P // n`` exactly.

    Each partition holds one contiguous range of whole buckets, so a
    ``partitionBy("bucket")`` write still emits one file per bucket, but
    from P tasks instead of n. Every write task and every file pays the
    local-FS committer's set-up (without the native Hadoop library each
    file's permission set-up forks a ``chmod``: ~260 forks for a 32-task
    write), which made a one-task-per-bucket write the largest block of
    a fresh commit; a task that writes several buckets sorts its own rows
    by ``bucket`` first. With ``n <= P`` bucket b goes to partition b.

    Hash-repartitioning on the bucket id itself hashes it a second time,
    so buckets land in partitions like balls in bins: 32 buckets fill 18
    of 32 partitions, leaving the rest empty and some with three or four
    buckets. Instead the shuffle key is a literal ``k_p`` chosen on the
    driver so that Spark's own ``pmod(murmur3(k_p), P) == p``, looked up
    per bucket with ``element_at`` — no extra job, no extra column.
    """
    p = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    part_keys = _placement_keys(p)
    keys = F.array(*[F.lit(part_keys[b * p // n_buckets]) for b in range(n_buckets)])
    return df.repartition(p, F.element_at(keys, F.col("bucket") + 1))


def extract_pages(
    pages: DataFrame,
    repartition_buckets: int | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Run the vectorized extraction kernel over a pages table.

    ``pages`` needs columns (url:string, html:binary|string); any
    ``keep_cols`` (e.g. warc_ts, lang) are passed through unchanged.

    ``repartition_buckets``: if set, hash-repartition on xxhash64(url)
    itself (not on an n-valued salt, which would leave partitions empty)
    first — the explicit skew salt required by the north rule. Leave None
    for small/benchmark runs where input splits are already balanced.
    """
    return _map_pages(pages, repartition_buckets, keep_cols, extract_batch)


def _map_pages(
    pages: DataFrame,
    repartition_buckets: int | None,
    keep_cols: list[str] | None,
    batch: Callable[[pd.Series, pd.Series], pa.RecordBatch],
    extra_fields: tuple[StructField, ...] = (),
) -> DataFrame:
    """The one extraction plan: optional url-hash repartition, then one
    ``mapInArrow`` over ``select(url, html, *keep_cols)``.

    ``batch(urls, html)`` returns a RecordBatch of EXTRACT_ARROW_SCHEMA
    columns followed by ``extra_fields``; the ``keep_cols`` Arrow columns
    are appended unchanged. The output schema is rebuilt per call
    (``StructType.add`` would mutate the shared EXTRACT_SCHEMA)."""
    keep_cols = keep_cols or []
    src = pages.select("url", "html", *keep_cols)
    if repartition_buckets:
        src = src.repartition(repartition_buckets, F.xxhash64("url"))

    out_schema = StructType(
        EXTRACT_SCHEMA.fields + list(extra_fields) + [pages.schema[c] for c in keep_cols]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            res = batch(rb.column("url").to_pandas(), rb.column("html").to_pandas())
            for c in keep_cols:
                res = res.append_column(rb.schema.field(c), rb.column(c))
            yield res

    return src.mapInArrow(run, schema=out_schema)


def extract_pages_sniffed(
    pages: DataFrame,
    repartition_buckets: int | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """``extract_pages`` drop-in whose decode step is the WHATWG
    charset sniff (extraction/charset.py) instead of utf-8-only —
    the extractor to plug into ``run_resumable_extraction(extractor=)``
    for corpora with legacy-encoded pages. Sniff + decode + tokenize +
    classify run FUSED in one Arrow kernel (no intermediate re-encode,
    no second mapInArrow); the detected ``charset`` is appended as an
    output column so downstream audits can stratify by encoding.
    """
    return _map_pages(
        pages, repartition_buckets, keep_cols, sniffed_batch,
        (StructField("charset", StringType(), True),),
    )


def sniffed_batch(urls: pd.Series, html: pd.Series) -> pa.RecordBatch:
    """:func:`extract_batch` over the charset-sniffed decode of ``html``,
    with the detected ``charset`` appended."""
    from finetoo_sp_spark.extraction.charset import sniff_decode_pandas

    sniffed = sniff_decode_pandas(html)
    return extract_batch(urls, sniffed["text"]).append_column(
        pa.field("charset", pa.string()), pa.array(sniffed["charset"], pa.string())
    )
