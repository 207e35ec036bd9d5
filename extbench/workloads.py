"""The four extraction workloads, their set-up and their correctness checks.

Every workload is a closed loop: one driver process, Spark ``local[N]``
with N = the cores this process may use, and one job at a time. Corpora
are ``datagen.gen_pages_pandas`` pages over a contiguous id range whose
start the seed picks, so the same seed gives the same pages. See README.md
for why each workload exists and which layer it stresses.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import PAGES_SCHEMA, gen_pages_pandas
from finetoo_sp_spark.extraction.extract import extract_pages
from finetoo_sp_spark.extraction.graph import extract_blocks
from finetoo_sp_spark.extraction.kernel import (
    blocks_batch,
    classify_arrays,
    decode_html,
    extract_batch,
    tokenize_arrays,
)
from finetoo_sp_spark.operators.divergence import divergence_report, divergence_totals
from finetoo_sp_spark.sources.lineage import MANIFEST_DIRNAME, run_resumable_extraction

from statusstore import Execution, layer_metrics
from tracing import Tracer

# Spark hands mapInPandas at most this many rows per Arrow batch (session.py)
ARROW_BATCH_ROWS = 4096
WARM_UP_SAMPLE = 4
_HOST_RE = r"^https?://([^/]+)"


@dataclass(frozen=True)
class Size:
    pages: int
    page_scale: int = 1
    buckets: int = 0  # lineage buckets, for the workloads that commit


@dataclass
class IterationResult:
    pages: int  # pages this iteration had to extract
    attempted: int  # item checks made on its outputs
    failed: int
    layers: dict[str, float]  # workload-specific per-layer values


class Workload:
    """One workload over one seed. ``setup`` writes the corpus and warms
    up; each iteration is ``prepare`` (untimed) then ``run`` (timed);
    ``verify`` checks the final outputs against the generator."""

    name = ""
    layer = ""  # the module whose calls own this workload's Spark executions

    def __init__(self, work_dir: str, seed: int, size: Size, partitions: int):
        self.work = work_dir
        self.size = size
        self.partitions = partitions
        self.rng = np.random.default_rng(seed)
        base = int(self.rng.integers(0, 10**9))  # datagen renders ids in <= 12 digits
        self.ids = np.arange(base, base + size.pages, dtype=np.int64)
        self.corpus = os.path.join(work_dir, "corpus")

    # --- set-up -------------------------------------------------------
    def setup(self, spark: SparkSession, tracer: Tracer) -> None:
        with tracer.span("datagen.write_corpus"):
            self._write_corpus(spark)
        with tracer.span("warmup"):
            self.warm_up(spark)

    def _write_corpus(self, spark: SparkSession) -> None:
        scale = self.size.page_scale

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield gen_pages_pandas(pdf["id"].to_numpy(), page_scale=scale)

        lo = int(self.ids[0])
        spark.range(lo, lo + len(self.ids), 1, self.partitions).mapInPandas(
            gen, schema=PAGES_SCHEMA
        ).write.mode("overwrite").parquet(self.corpus)

    def pages(self, spark: SparkSession, sample: int = 1) -> DataFrame:
        """The corpus, or every ``sample``-th page of it."""
        df = spark.read.parquet(self.corpus)
        return df if sample == 1 else df.where(F.col("page_id") % sample == 0)

    def n_pages(self, sample: int = 1) -> int:
        return int(np.count_nonzero(self.ids % sample == 0))

    def expected(self, spark: SparkSession) -> DataFrame:
        """(url, expected_text) as the generator wrote it."""
        return self.pages(spark).select("url", "expected_text")

    def warm_up(self, spark: SparkSession) -> None:
        """One untimed iteration over a quarter of the corpus, so every
        Python worker has imported the kernel and the JVM has compiled
        the query's hot paths."""
        self.prepare(-1)
        self.run(spark, Tracer(), WARM_UP_SAMPLE)

    # --- timed loop ---------------------------------------------------
    def prepare(self, iteration: int) -> None:
        pass

    def run(self, spark: SparkSession, tracer: Tracer, sample: int = 1) -> IterationResult:
        raise NotImplementedError

    def verify(self, spark: SparkSession) -> tuple[int, int]:
        """(item checks, failures) on the final outputs."""
        raise NotImplementedError

    def html_bytes_per_page(self, spark: SparkSession) -> float:
        return float(self.pages(spark).agg(F.avg(F.length("html"))).collect()[0][0])

    def layer_metrics(self, execs: list[Execution], res: IterationResult) -> dict:
        out = layer_metrics(
            execs,
            lineage_execs=execs if self.layer == "sources.lineage" else [],
            divergence_execs=execs if self.layer == "operators.divergence" else [],
        )
        for k in _WORKLOAD_LAYER_KEYS:
            out[k] = res.layers.get(k, 0.0)
        return out

    # --- extraction kernel, timed in the driver -----------------------
    def kernel_metrics(self, tracer: Tracer, reps: int = 3) -> dict[str, float]:
        """Driver-timed kernel calls on one of this workload's own batches:
        the rows one task hands one Arrow batch, capped at 4096."""
        rows = min(ARROW_BATCH_ROWS, math.ceil(len(self.ids) / self.partitions))
        pdf = gen_pages_pandas(self.ids[:rows], page_scale=self.size.page_scale)
        urls, html = pdf["url"], pdf["html"]

        def timed(name, fn):
            times = []
            for _ in range(reps):
                with tracer.span(name):
                    t0 = time.perf_counter()
                    out = fn()
                    times.append(time.perf_counter() - t0)
            return statistics.median(times), out

        t_dec, text = timed("extraction.kernel.decode_html", lambda: decode_html(html))
        t_tok, tf = timed("extraction.kernel.tokenize_arrays", lambda: tokenize_arrays(text))
        t_cls, blocks = timed("extraction.kernel.classify_arrays", lambda: classify_arrays(tf))
        t_all, _ = timed("extraction.kernel.extract_batch", lambda: extract_batch(urls, html))
        t_blk, _ = timed("extraction.kernel.blocks_batch", lambda: blocks_batch(urls, html))
        per_k = 1000.0 / rows
        return {
            "kernel.decode_html_s_per_kpage": t_dec * per_k,
            "kernel.tokenize_arrays_s_per_kpage": t_tok * per_k,
            "kernel.classify_arrays_s_per_kpage": t_cls * per_k,
            "kernel.assembly_s_per_kpage": (t_all - t_dec - t_tok - t_cls) * per_k,
            "kernel.blocks_batch_s_per_kpage": t_blk * per_k,
            "kernel.tokens_per_page": len(tf.doc) / rows,
            "kernel.blocks_per_page": len(blocks.doc) / rows,
        }


_WORKLOAD_LAYER_KEYS = (
    "lineage.plan_and_count_s",
    "lineage.extract_write_manifest_s",
    "lineage.final_audit_s",
    "lineage.buckets_processed",
    "divergence.names_out",
)


def _mismatches(expected: DataFrame, got: DataFrame, want: str, have: str) -> tuple[int, int]:
    """Full outer join of expected and produced values on url: (urls
    checked, urls missing, extra, wrong or produced more than once)."""
    row = (
        expected.join(got, "url", "full_outer")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("url").alias("urls"),
            F.sum(F.when(F.col(have).eqNullSafe(F.col(want)), 0).otherwise(1)).alias("bad"),
        )
        .collect()[0]
    )
    return int(row["urls"]), int(row["bad"]) + int(row["rows"]) - int(row["urls"])


def _lineage_layers(r: dict) -> dict[str, float]:
    ph = r["phases"]
    return {
        "lineage.plan_and_count_s": ph.get("plan_and_count", 0.0),
        "lineage.extract_write_manifest_s": ph.get("extract_write_manifest", 0.0),
        "lineage.final_audit_s": ph.get("final_audit", 0.0),
        "lineage.buckets_processed": float(r["buckets_processed"]),
    }


class _Lineage(Workload):
    """A workload whose iteration is one ``run_resumable_extraction`` into
    ``out``. At the end the committed text is compared byte for byte with
    the generator's."""

    layer = "sources.lineage"

    @property
    def out(self) -> str:
        return os.path.join(self.work, "out")

    def verify(self, spark):
        got = spark.read.parquet(os.path.join(self.out, "data")).select("url", "text")
        return _mismatches(self.expected(spark), got, "expected_text", "text")


class CommitLargePages(_Lineage):
    """A fresh resumable commit of ~14 KB pages."""

    name = "commit_large_pages"

    def warm_up(self, spark):
        # extraction only: the lineage write's ~2 s of fixed per-job cost
        # would double each set-up, and the loop's uncounted first
        # iteration warms it
        extract_pages(self.pages(spark, WARM_UP_SAMPLE)).write.format("noop").mode("overwrite").save()

    def prepare(self, iteration):
        shutil.rmtree(self.out, ignore_errors=True)  # every iteration commits afresh

    def run(self, spark, tracer, sample=1):
        n = self.n_pages(sample)
        with tracer.span("sources.lineage.run_resumable_extraction"):
            r = run_resumable_extraction(self.pages(spark, sample), self.out, n_buckets=self.size.buckets)
        ok = r["rows_out"] == n and r["buckets_processed"] == r["buckets_total"]
        return IterationResult(n, n, 0 if ok else max(abs(n - r["rows_out"]), 1), _lineage_layers(r))


class ResumeEighth(_Lineage):
    """Resume after losing the manifests of 1/8 of the buckets: lineage
    read, anti-join and partial rewrite with little kernel work. The final
    check covers every page, not only the re-run buckets."""

    name = "resume_eighth"

    def warm_up(self, spark):
        # the initial commit is part of set-up, and warms every path
        shutil.rmtree(self.out, ignore_errors=True)
        run_resumable_extraction(self.pages(spark), self.out, n_buckets=self.size.buckets)

    def prepare(self, iteration):
        man = os.path.join(self.out, MANIFEST_DIRNAME)
        present = sorted(d for d in os.listdir(man) if d.startswith("bucket="))
        k = max(1, self.size.buckets // 8)
        for d in self.rng.choice(present, size=k, replace=False):
            shutil.rmtree(os.path.join(man, d))
        self.deleted = k

    def run(self, spark, tracer, sample=1):
        n = len(self.ids)
        with tracer.span("sources.lineage.run_resumable_extraction"):
            r = run_resumable_extraction(self.pages(spark), self.out, n_buckets=self.size.buckets)
        rerun = r["rows_in"]
        # the re-run must touch exactly the deleted buckets and leave every
        # page accounted for in the manifests
        failed = (rerun if r["buckets_processed"] != self.deleted else 0) + abs(n - r["rows_out"])
        return IterationResult(rerun, rerun, failed, _lineage_layers(r))


class ScanSmallPages(Workload):
    """Extract ~1.1 KB pages keeping two columns, into the noop sink: the
    Python-UDF boundary dominates and lineage is bypassed."""

    name = "scan_small_pages"

    def _query(self, pages: DataFrame) -> DataFrame:
        return extract_pages(pages).select("url", "content_chars")

    def run(self, spark, tracer, sample=1):
        with tracer.span("extraction.extract.extract_pages"):
            self._query(self.pages(spark, sample)).write.format("noop").mode("overwrite").save()
        return IterationResult(self.n_pages(sample), 0, 0, {})

    def verify(self, spark):
        # content_chars = the main text's length without its block separators
        want = self.expected(spark).select(
            "url", F.length(F.regexp_replace("expected_text", "\n", "")).alias("want")
        )
        return _mismatches(want, self._query(self.pages(spark)), "want", "content_chars")


def host_block_names(blocks: DataFrame) -> DataFrame:
    """Blocks as (name = host#tag#block_id, doc = url, hash = xxhash64(text))."""
    return blocks.select(
        F.concat_ws("#", F.regexp_extract("url", _HOST_RE, 1), "tag", "block_id").alias("name"),
        F.col("url").alias("doc"),
        F.xxhash64("text").alias("hash"),
    )


class HostDivergence(Workload):
    """Cross-document divergence of host#tag#block_id names over the
    host-skewed corpus: one row per block, a shuffle and a skewed
    collect_set aggregation."""

    name = "host_divergence"
    layer = "operators.divergence"
    hosts_checked = 3

    @property
    def report_path(self) -> str:
        return os.path.join(self.work, "report")

    def run(self, spark, tracer, sample=1):
        with tracer.span("operators.divergence.divergence_report"):
            names = host_block_names(extract_blocks(self.pages(spark, sample)))
            report = divergence_report(names, "name", "doc", "hash")
            report.write.mode("overwrite").parquet(self.report_path)
        with tracer.span("operators.divergence.divergence_totals"):
            t = divergence_totals(spark.read.parquet(self.report_path)).collect()[0]
        ok = t["total_names"] > 0 and t["divergent"] + t["consistent"] == t["total_names"]
        return IterationResult(
            self.n_pages(sample), 1, 0 if ok else 1, {"divergence.names_out": float(t["total_names"])}
        )

    def _hosts(self) -> np.ndarray:
        """Each page's host name, by datagen's rule host id = id % (1 + id % 97)."""
        host_id = self.ids % (1 + self.ids % 97)
        return np.char.add(np.char.add("host", host_id.astype("U8")), ".example.com")

    def checked_hosts(self) -> list[str]:
        """Seed-chosen hosts whose report rows are recomputed in pandas."""
        present = np.unique(self._hosts())
        pick = self.rng.choice(present, size=min(self.hosts_checked, len(present)), replace=False)
        return sorted(pick)

    def expected_blocks(self, hosts: list[str]) -> pd.DataFrame:
        """(name, doc, text) of every block of the given hosts' pages, from
        ``blocks_batch`` over freshly generated pages."""
        mine = np.isin(self._hosts(), hosts)
        pdf = gen_pages_pandas(self.ids[mine], page_scale=self.size.page_scale)
        b = blocks_batch(pdf["url"], pdf["html"])
        host = b["url"].str.extract(_HOST_RE, expand=False)
        name = host + "#" + b["tag"] + "#" + b["block_id"].astype(str)
        return pd.DataFrame({"name": name, "doc": b["url"], "text": b["text"]})

    def verify(self, spark):
        hosts = self.checked_hosts()
        exp = self.expected_blocks(hosts)
        # hash the expected texts with the same Spark function the query uses
        texts = pd.DataFrame({"text": exp["text"].unique()})
        hashed = spark.createDataFrame(texts).select("text", F.xxhash64("text").alias("h")).toPandas()
        exp = exp.merge(hashed, on="text")
        want = {
            name: (g["doc"].nunique(), g["h"].nunique(), sorted(set(zip(g["doc"], g["h"]))))
            for name, g in exp.groupby("name")
        }
        prefix = F.lit(False)
        for h in hosts:
            prefix = prefix | F.col("name").startswith(h + "#")
        got = {
            r["name"]: (r["n_docs"], r["n_versions"], [(v["doc"], v["content_hash"]) for v in r["versions"]], r["is_divergent"])
            for r in spark.read.parquet(self.report_path).where(prefix).collect()
        }
        failed = 0
        for name in set(want) | set(got):
            w, g = want.get(name), got.get(name)
            if w is None or g is None or g[:3] != w or g[3] != (w[1] > 1):
                failed += 1
        return len(want), failed


WORKLOADS = {w.name: w for w in (CommitLargePages, ResumeEighth, ScanSmallPages, HostDivergence)}

# Corpus sizes. "full" keeps one iteration at ~1-3 s on 4 cores so a run
# of a few seconds holds several iterations; "tiny" is the self-test's.
SIZES = {
    "full": {
        "commit_large_pages": Size(1000, page_scale=32, buckets=32),
        "resume_eighth": Size(16000, buckets=64),
        "scan_small_pages": Size(32000),
        "host_divergence": Size(10000),
    },
    "tiny": {
        "commit_large_pages": Size(128, page_scale=4, buckets=8),
        "resume_eighth": Size(512, buckets=16),
        "scan_small_pages": Size(512),
        "host_divergence": Size(512),
    },
}
