"""Benchmark harness: one JSON line with the headline metric + per-query times.

Headline = extraction throughput (pages/sec) over the deterministic
synthetic corpus (datagen.gen_pages), matching BASELINE.json's metric.
The per-query dict times every registered contract query
(contract.queries()) and two production-hash variants on
$SPARK_GRAFT_SF_DIR.

Env:
  SPARK_GRAFT_SF_DIR      parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS        local[N] parallelism (default: the host's CPU count)
  SPARK_GRAFT_BENCH_PAGES synthetic corpus size (default 40000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "40000"))

    from finetoo_sp_spark import contract
    from finetoo_sp_spark.datagen import gen_pages
    from finetoo_sp_spark.extraction.extract import extract_pages
    from finetoo_sp_spark.session import get_spark, local_cpus

    spark = get_spark(app_name="finetoo_sp_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # -- quiet-window protocol (VERDICT r03 item 10): probe host steal
    # UNDER LOAD before the timed section (steal only accrues when the
    # vCPUs demand time — an idle sample reads ~0% on a host that will
    # steal 20% once the job starts); when the probe reads noisy (>2%),
    # wait a few windows for the neighbors to quiet down (bounded —
    # never stalls the driver), and annotate every leg with its own
    # steal so a polluted record is self-describing instead of
    # silently 15% low.
    preflight_steal, preflight_waits = _loaded_steal_probe(), 0
    while preflight_steal is not None and preflight_steal > 2.0 and preflight_waits < 5:
        time.sleep(10.0)
        preflight_waits += 1
        preflight_steal = _loaded_steal_probe()

    # -- headline: extraction pages/sec (generate once, cache input) -----
    # one task wave across all cores: the datagen default (n/2000 parts)
    # leaves a third of the slots idle at 40k pages / 32 cpus (measured
    # 59k -> 70k pages/s from this alone); more waves only add overhead
    cpus = local_cpus()
    pages = gen_pages(spark, n_pages, partitions=cpus).select("url", "html").cache()
    pages.count()  # materialize: time extraction, not generation
    extract_s, best_leg_steal = float("inf"), None
    headline_legs: list[dict] = []

    def _headline_leg() -> tuple[int, float, float | None]:
        s0, j0 = _cpu_steal_jiffies()
        t0 = time.time()
        n = extract_pages(pages).select("url", "content_chars").count()
        dt_ = time.time() - t0
        s1, j1 = _cpu_steal_jiffies()
        st = round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2) if j1 > j0 else None
        return n, dt_, st

    # best-of-3 with per-leg pollution retry (VERDICT r04 item 3): the
    # sandbox shares a host whose spare CPU fluctuates; the minimum
    # reflects the engine, the mean reflects the neighbors. Each leg
    # records the steal sampled AROUND its own timed region, and when
    # even the best leg ran under >2% steal the harness re-runs legs
    # (bounded budget, short wait between) so a transient noisy window
    # no longer burns the whole record — the driver artifact stops
    # under-reading by 30% when the neighbors quiet down mid-run.
    leg_retry_budget = int(os.environ.get("SPARK_GRAFT_LEG_RETRIES", "4"))
    headline_retries = 0
    n_out = 0
    for leg_no in range(3 + leg_retry_budget):
        if leg_no >= 3:
            # retry gate matches the headline_polluted threshold (1%):
            # a leg the record would flag is a leg worth re-running
            if best_leg_steal is None or best_leg_steal <= 1.0:
                break  # already have a clean best leg
            time.sleep(8.0)  # give the noisy neighbor a chance to pass
            headline_retries += 1
        n_out, dt, leg_steal = _headline_leg()
        headline_legs.append(
            {
                "pages_per_sec": round(n_out / dt, 1),
                "sec": round(dt, 3),
                "steal_pct": leg_steal,
                "retry": leg_no >= 3,
            }
        )
        if dt < extract_s:
            extract_s, best_leg_steal = dt, leg_steal
    pages_per_sec = n_out / extract_s if extract_s > 0 else 0.0
    pages.unpersist()

    # -- contract queries on the driver tables ---------------------------
    # best-of-N per query (default 2): a single cold sample on this
    # shared-host sandbox can read 2-7x the warm time (BENCH.md round-3
    # noise note) — the min of two passes reflects the engine, and the
    # regression gate below stops flagging neighbor spikes.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    steal0, total0 = _cpu_steal_jiffies()
    times: dict[str, float] = {}
    for _ in range(reps):
        for name, fn in contract.queries().items():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt

    # production-hash variants: the registered minhash/simhash queries run
    # hash_mode='sha' (DuckDB-verifiable, slower hash); production uses
    # xxhash64 with the identical plan shape — time both for the record.
    from pyspark.sql import functions as F

    from finetoo_sp_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prod = {
        "dedup_minhash_lsh_prod": lambda: dd.minhash_lsh_pairs(
            docs.filter(F.col("doc_id") < 150), "doc_id", "text", threshold=0.12
        ),
        "dedup_simhash_prod": lambda: dd.simhash_pairs(docs, "doc_id", "text"),
    }
    for _ in range(reps):
        for name, fn in prod.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt
    steal1, total1 = _cpu_steal_jiffies()
    steal_pct = (
        round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2)
        if total1 > total0
        else None
    )

    # -- regression gate: compare per-query times vs the newest recorded
    # round (BENCH_r{N}.json) at the same sf and cpus, and flag >1.3x
    # slowdowns in the output so a regression can never ship silently
    # (VERDICT r02 item 10).
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    baseline, prev_queries = _previous_round_queries(
        os.path.dirname(os.path.abspath(__file__)), sf, cpus
    )
    regressions: dict[str, dict] = {}
    for name, now in times.items():
        prev = prev_queries.get(name)
        if prev and prev > 0 and now > 1.3 * prev:
            regressions[name] = {"prev": prev, "now": now, "ratio": round(now / prev, 2)}

    print(
        json.dumps(
            {
                "metric": "pages_per_sec_extraction",
                "value": round(pages_per_sec, 1),
                "unit": "pages/sec",
                "queries": times,
                "regressions": regressions,
                "regression_baseline": baseline or "no baseline",
                "sf": sf,
                "n_pages": n_pages,
                "extract_sec": round(extract_s, 3),
                "cpus": cpus,
                "query_reps": reps,
                "host_steal_pct": steal_pct,
                "steal_annotated": True,
                "preflight_steal_pct": preflight_steal,
                "preflight_waits": preflight_waits,
                "headline_legs": headline_legs,
                "headline_best_leg_steal_pct": best_leg_steal,
                "headline_polluted": bool(best_leg_steal and best_leg_steal > 1.0),
                "headline_retries": headline_retries,
                "headline_retries_exhausted": bool(
                    headline_retries and best_leg_steal and best_leg_steal > 1.0
                ),
            }
        )
    )


def _loaded_steal_probe(seconds: float = 2.0) -> float | None:
    """Steal %% with every core briefly DEMANDING time — the honest
    quiet-window detector on a shared host (idle sampling reads ~0%
    regardless of neighbor load, because steal only accrues when our
    vCPUs are runnable and preempted)."""
    import multiprocessing as mp

    def _burn(stop_t: float) -> None:
        while time.time() < stop_t:
            pass

    s0, t0 = _cpu_steal_jiffies()
    if t0 == 0:
        return None
    stop = time.time() + seconds
    procs = [
        mp.Process(target=_burn, args=(stop,), daemon=True)
        for _ in range(os.cpu_count() or 4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    s1, t1 = _cpu_steal_jiffies()
    if t1 <= t0:
        return None
    return round(100.0 * (s1 - s0) / (t1 - t0), 2)


def _cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line —
    sampled around the timed section so each record carries its own
    noise context ((0, 0) when unreadable)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except Exception:  # noqa: BLE001 — missing /proc must not break the bench
        return (0, 0)


def _previous_round_queries(root: str, sf, cpus: int) -> tuple[str | None, dict[str, float]]:
    """(file name, per-query seconds) of the newest BENCH_r{N}.json in
    ``root`` recorded at this run's ``sf`` and ``cpus`` whose ``parsed``
    result is a dict; (None, {}) when no record qualifies, so the gate
    only ever compares like with like. An unreadable record is skipped."""
    import glob
    import re

    records = []
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            records.append((int(m.group(1)), p))
    for _n, p in sorted(records, reverse=True):
        try:
            with open(p) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(doc, dict) or doc.get("sf") != sf or doc.get("cpus") != cpus:
            continue
        parsed = doc.get("parsed")
        if isinstance(parsed, dict):
            q = parsed.get("queries") or {}
            return os.path.basename(p), {k: float(v) for k, v in q.items()}
    return None, {}


if __name__ == "__main__":
    main()
