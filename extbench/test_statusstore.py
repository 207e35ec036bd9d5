"""Unit tests of the status-store reader on metric strings captured from
Spark 4.1 (no Spark session needed).

    python3 -m pytest extbench/test_statusstore.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statusstore import Execution, Metric, Node, Stage, layer_metrics, parse_metric  # noqa: E402

MiB = 2.0**20
KiB = 2.0**10


@pytest.mark.parametrize(
    "text, want",
    [
        ("4,000", Metric(4000.0)),
        ("32", Metric(32.0)),
        ("0 ms", Metric(0.0)),
        ("19 ms", Metric(0.019)),
        ("19.2 MiB", Metric(19.2 * MiB)),
        ("0.0 B", Metric(0.0)),
        (
            "total (min, med, max (stageId: taskId))\n"
            "8.1 s (1.8 s, 2.1 s, 2.1 s (stage 52.0: task 199))",
            Metric(8.1, 1.8, 2.1, 2.1),
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "28.5 MiB (814.0 KiB, 1749.1 KiB, 2.7 MiB (stage 54.0: task 209))",
            Metric(28.5 * MiB, 814.0 * KiB, 1749.1 * KiB, 2.7 * MiB),
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "21 ms (0 ms, 0 ms, 8 ms (stage 54.0: task 206))",
            Metric(0.021, 0.0, 0.0, 0.008),
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1.5 m (20.0 s, 30.0 s, 40.0 s (stage 3.0: task 17))",
            Metric(90.0, 20.0, 30.0, 40.0),
        ),
        ("1.2", Metric(1.2)),
        (
            "(min, med, max (stageId: taskId)):\n"
            "(1, 1, 1 (stage 0.0: task 2))",
            Metric(1.0, 1.0, 1.0, 1.0),
        ),
    ],
)
def test_parse_metric(text, want):
    got = parse_metric(text)
    for field in ("total", "min", "med", "max"):
        g, w = getattr(got, field), getattr(want, field)
        assert (g is None and w is None) or g == pytest.approx(w), field


@pytest.mark.parametrize("text", ["", "n/a", "total (min, med, max)\n3 ms (1 ms)"])
def test_parse_metric_rejects_garbage(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def _stage(sid, run_s, med, mx, read=0.0, read_med=0.0, read_max=0.0):
    return Stage(sid, tasks=4, failed_tasks=0, run_s=run_s, cpu_s=run_s / 2, gc_s=0.1,
                 task_run_med_s=med, task_run_max_s=mx, shuffle_read_bytes=read,
                 task_read_med=read_med, task_read_max=read_max)


def test_layer_metrics_charges_each_layer():
    udf = Node("MapInPandas", "", {
        "time to run Python workers": parse_metric(
            "total (min, med, max (stageId: taskId))\n8.1 s (1.8 s, 2.1 s, 2.1 s (stage 1.0: task 3))"),
        "data returned from Python workers": parse_metric("58.3 MiB"),
        "number of output rows": parse_metric("4,000"),
    })
    data_write = Node("Execute InsertIntoHadoopFsRelationCommand", "file:/w/out/data, false",
                      {"written output": parse_metric("19.2 MiB"),
                       "number of written files": parse_metric("32")})
    manifest_write = Node("Execute InsertIntoHadoopFsRelationCommand", "file:/w/out/_manifests",
                          {"written output": parse_metric("1.0 MiB"),
                           "number of written files": parse_metric("32")})
    agg = Node("ObjectHashAggregate", "", {
        "time in aggregation build": parse_metric("38 ms"),
        "peak memory": parse_metric(
            "total (min, med, max (stageId: taskId))\n146.0 MiB (64.0 KiB, 8.1 MiB, 9.0 MiB (stage 2.0: task 1))"),
        "number of sort fallback tasks": parse_metric("4"),
    })
    write_exec = Execution(1, 5.0, [data_write, udf], [_stage(1, 9.0, 2.0, 3.0)])
    man_exec = Execution(2, 0.8, [manifest_write, agg],
                         [_stage(2, 1.0, 0.2, 0.3, read=100.0, read_med=20.0, read_max=50.0)])
    execs = [write_exec, man_exec]

    m = layer_metrics(execs, lineage_execs=execs)
    assert m["extract.py_run_s"] == pytest.approx(8.1)
    assert m["extract.bytes_from_python"] == pytest.approx(58.3 * MiB)
    assert m["extract.rows_out"] == 4000
    assert m["lineage.data_write_bytes"] == pytest.approx(19.2 * MiB)
    assert m["lineage.data_files_written"] == 32
    assert m["lineage.manifest_exec_s"] == pytest.approx(0.8)
    assert m["stages.executor_run_s"] == pytest.approx(10.0)
    assert m["stages.task_skew"] == pytest.approx(1.5)  # busiest stage: 3.0 / 2.0
    assert m["shuffle.partition_skew"] == pytest.approx(2.5)  # 50 / 20
    # aggregates outside a divergence call are not charged to divergence
    assert m["divergence.agg_build_s"] == 0.0

    d = layer_metrics(execs, divergence_execs=[man_exec])
    assert d["divergence.agg_build_s"] == pytest.approx(0.038)
    assert d["divergence.agg_peak_mem_mb"] == pytest.approx(9.0 * MiB / 1e6)
    assert d["divergence.sort_fallback_tasks"] == 4
    assert d["lineage.data_write_bytes"] == 0.0
