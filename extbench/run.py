"""Extraction benchmark: run one workload (or all of them) and print its metrics.

    python3 extbench/run.py --workload commit_large_pages --seed 1 --seconds 10 --trace 0
    python3 extbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run sets up several times (session
start, corpus write, warm-up) and reports the median set-up time, then
runs the workload in a closed loop for ``--seconds`` and checks its
outputs against the generator. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's context record. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs half the time untraced and half traced, and reports
the per-layer metrics read from Spark's status stores. The exit code is
0 only when every check passed. README.md explains the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# After set-up the loop's first iteration runs 20-80% slower than the
# rest and the second up to 20% slower, even after a full-corpus warm-up
# (measured on 4 cores). Both are kept in the context record and left out
# of every median.
UNCOUNTED_ITERATIONS = 2
MIN_ITERATIONS = UNCOUNTED_ITERATIONS + 3

END_TO_END = {
    "wall_s": "s",
    "pages_per_s": "pages/s",
    "cpu_s_per_kpage": "s/kpage",
    "worker_peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "kernel.decode_html_s_per_kpage": "s/kpage",
    "kernel.tokenize_arrays_s_per_kpage": "s/kpage",
    "kernel.classify_arrays_s_per_kpage": "s/kpage",
    "kernel.assembly_s_per_kpage": "s/kpage",
    "kernel.blocks_batch_s_per_kpage": "s/kpage",
    "kernel.tokens_per_page": "count",
    "kernel.blocks_per_page": "count",
    "extract.py_start_s": "s",
    "extract.py_init_s": "s",
    "extract.py_run_s": "s",
    "extract.bytes_to_python": "B",
    "extract.bytes_from_python": "B",
    "extract.rows_out": "count",
    "lineage.plan_and_count_s": "s",
    "lineage.extract_write_manifest_s": "s",
    "lineage.final_audit_s": "s",
    "lineage.buckets_processed": "count",
    "lineage.data_write_bytes": "B",
    "lineage.data_files_written": "count",
    "lineage.manifest_exec_s": "s",
    "scan.bytes_read": "B",
    "scan.time_s": "s",
    "shuffle.bytes_written": "B",
    "shuffle.records_written": "count",
    "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "shuffle.partition_skew": "ratio",
    "divergence.agg_build_s": "s",
    "divergence.agg_peak_mem_mb": "MB",
    "divergence.spill_bytes": "B",
    "divergence.sort_fallback_tasks": "count",
    "divergence.names_out": "count",
    "stages.executor_run_s": "s",
    "stages.executor_cpu_s": "s",
    "stages.gc_s": "s",
    "stages.tasks": "count",
    "stages.failed_tasks": "count",
    "stages.task_skew": "ratio",
    "session.get_spark_s": "s",
    "datagen.write_corpus_s": "s",
    "trace.overhead_s": "s",
}


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test corpus sizes")
    return p.parse_args(argv)


def _isolate(work: str, cores: int) -> None:
    """Keep Spark, the JVM and Python workers inside ``work`` and on this
    machine's cores; let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


@contextmanager
def _stdout_to_stderr():
    """The JVM and the workers it forks inherit stdout at launch; point it
    at stderr then, so only this program's lines reach stdout."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        os.dup2(saved, 1)
        os.close(saved)


class Engine:
    """Owns the Spark session and the JVM behind it."""

    def __init__(self, work: str):
        self.spark = None
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self):
        from finetoo_sp_spark.session import get_spark

        with _stdout_to_stderr():
            self.spark = get_spark(app_name="extbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every process they started."""
        import procstat
        from pyspark import SparkContext

        started = procstat.descendants()
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        procstat.wait_gone(started, timeout_s=30)


def _measure(wl, spark, seconds: float, tracer, reader=None) -> dict:
    """Closed loop: iterations back to back until ``seconds`` are used
    (at least MIN_ITERATIONS). Each iteration's prepare step is untimed.
    Per-iteration lists leave out the first UNCOUNTED_ITERATIONS; ``walls``
    keeps every iteration."""
    import procstat

    walls, rates, cpu_per_k, layer_rows = [], [], [], []
    attempted = failed = 0
    jiffies = procstat.cpu_jiffies()
    with procstat.WorkerPeakRss() as rss:
        deadline = time.perf_counter() + seconds
        i = 0
        while i < MIN_ITERATIONS or time.perf_counter() + statistics.median(walls) <= deadline:
            wl.prepare(i)
            mark = reader.mark() if reader else None
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("iteration"):
                res = wl.run(spark, tracer)
            wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            walls.append(wall)
            rates.append(res.pages / wall)
            cpu_per_k.append(cpu * 1000.0 / res.pages)
            attempted += res.attempted
            failed += res.failed
            if reader:
                layer_rows.append(wl.layer_metrics(reader.since(mark), res))
            i += 1
    n = UNCOUNTED_ITERATIONS
    return {
        "walls": walls,
        "wall": statistics.median(walls[n:]),
        "rate": statistics.median(rates[n:]),
        "cpu_per_k": statistics.median(cpu_per_k[n:]),
        "layer_rows": layer_rows[n:],
        "rss_bytes": rss.peak_bytes,
        "steal_pct": procstat.steal_pct(jiffies, procstat.cpu_jiffies()),
        "attempted": attempted,
        "failed": failed,
    }


def _versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def run_workload(args) -> int:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work, cores)
    sys.path.insert(0, ROOT)
    import workloads as W  # needs the finetoo_sp_spark package of the checkout
    from statusstore import StatusReader, median_by_key
    from tracing import Tracer

    cls = W.WORKLOADS[args.workload]
    size = W.SIZES["tiny" if args.tiny else "full"][args.workload]
    os.makedirs(os.path.join(work, "tmp"))
    engine = Engine(work)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        setup_s = []
        for _ in range(SETUP_REPS):
            engine.stop()
            wl = cls(work, args.seed, size, cores)
            t0 = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("session.get_spark"):
                    spark = engine.start()
                wl.setup(spark, tracer)
            setup_s.append(time.perf_counter() - t0)

        loops = []
        if args.trace:
            loops.append(plain := _measure(wl, spark, args.seconds / 2, Tracer()))
            loops.append(run := _measure(wl, spark, args.seconds / 2, tracer, StatusReader(spark)))
        else:
            loops.append(run := _measure(wl, spark, args.seconds, tracer))
        with tracer.span("verify"):
            attempted, failed = wl.verify(spark)
        attempted += sum(m["attempted"] for m in loops)
        failed += sum(m["failed"] for m in loops)

        if args.trace:
            layers = median_by_key(run["layer_rows"])
            layers.update(wl.kernel_metrics(tracer))
            layers["session.get_spark_s"] = tracer.median_s("session.get_spark")
            layers["datagen.write_corpus_s"] = tracer.median_s("datagen.write_corpus")
            layers["trace.overhead_s"] = run["wall"] - plain["wall"]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {
                "wall_s": run["wall"],
                "pages_per_s": run["rate"],
                "cpu_s_per_kpage": run["cpu_per_k"],
                "worker_peak_rss_mb": run["rss_bytes"] / 1e6,
                "setup_s": statistics.median(setup_s),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "loop": f"closed: 1 driver, local[{cores}], 1 job at a time",
            "cores": cores,
            "versions": _versions(),
            "pages": int(size.pages),
            "page_scale": size.page_scale,
            "html_bytes_per_page": wl.html_bytes_per_page(spark),
            "host_steal_pct": run["steal_pct"],
            "iterations_counted": len(run["walls"]) - UNCOUNTED_ITERATIONS,
            "wall_s_median": run["wall"],
            "wall_s_max": max(run["walls"][UNCOUNTED_ITERATIONS:]),
            "wall_s_each": run["walls"],
            "setup_s_reps": setup_s,
            "error_rate": failed / attempted if attempted else 1.0,
        }
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"context": context, "metrics": metrics}
    if args.trace:
        record["spans"] = tracer.spans
        record["iterations"] = run["layer_rows"]
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    correct = failed == 0 and attempted > 0
    print("context " + json.dumps(context))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name}: exit {proc.returncode}")
        if lines:
            res = json.loads(lines[-1])
            print(f"   correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"   {k} = {m['value']:.6g} {m['unit']}")
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    args = _args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
