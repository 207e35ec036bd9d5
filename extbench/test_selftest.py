"""Self-test of the benchmark at tiny corpus sizes (starts Spark; a few
minutes on 4 cores).

    python3 -m pytest extbench/test_selftest.py -q

- every workload, traced and untraced, emits every metric named in
  BENCHMARK.json with its unit, and passes its own checks;
- a mutated expected text, or a dropped output bucket, makes the
  checks fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["commit_large_pages", "resume_eighth", "scan_small_pages", "host_divergence"])
def test_tiny_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        stdout=subprocess.PIPE, text=True, cwd=ROOT, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    context = json.loads(lines[-2].removeprefix("context "))
    assert proc.returncode == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    assert context["error_rate"] == 0
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


@pytest.fixture(scope="module")
def spark():
    saved = dict(os.environ)
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    run._isolate(work, cores=2)
    os.makedirs(os.path.join(work, "tmp"))
    engine = run.Engine(work)
    try:
        yield engine.start(), work
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved)


def _tiny(name, work):
    from workloads import SIZES, WORKLOADS

    return WORKLOADS[name](os.path.join(work, name), 3, SIZES["tiny"][name], 2)


def _set_up_and_run_once(wl, spark):
    from tracing import Tracer

    wl.setup(spark, Tracer())
    wl.prepare(0)
    res = wl.run(spark, Tracer())
    assert res.failed == 0
    assert wl.verify(spark)[1] == 0


@pytest.mark.parametrize("name", ["commit_large_pages", "resume_eighth", "scan_small_pages"])
def test_mutated_expected_text_is_caught(spark, name):
    from pyspark.sql import functions as F

    spark, work = spark
    wl = _tiny(name, work)
    _set_up_and_run_once(wl, spark)
    exact = wl.expected
    victim = exact(spark).first()["url"]
    wl.expected = lambda s: exact(s).withColumn(
        "expected_text",
        F.when(F.col("url") == victim, F.concat("expected_text", F.lit(" more words")))
        .otherwise(F.col("expected_text")),
    )
    attempted, failed = wl.verify(spark)
    assert failed == 1 and attempted == len(wl.ids)


@pytest.mark.parametrize("name", ["commit_large_pages", "resume_eighth"])
def test_dropped_bucket_is_caught(spark, name):
    spark, work = spark
    wl = _tiny(name, work)
    _set_up_and_run_once(wl, spark)
    data = os.path.join(wl.out, "data")
    shutil.rmtree(os.path.join(data, sorted(d for d in os.listdir(data) if d.startswith("bucket="))[0]))
    attempted, failed = wl.verify(spark)
    assert 0 < failed < attempted


def test_wrong_divergence_row_is_caught(spark):
    spark, work = spark
    wl = _tiny("host_divergence", work)
    _set_up_and_run_once(wl, spark)
    exact = wl.expected_blocks

    def mutated(hosts):
        blocks = exact(hosts)
        blocks.loc[0, "text"] = blocks.loc[0, "text"] + " changed"
        return blocks

    wl.expected_blocks = mutated
    attempted, failed = wl.verify(spark)
    assert failed == 1 and attempted > 1
