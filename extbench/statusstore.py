"""Read Spark's own accounting from its status stores, from outside the program.

Both stores are live with ``spark.ui.enabled=false``:

- the SQL store (``sharedState().statusStore()``) holds, per SQL execution,
  the physical plan graph and every node's SQL metrics;
- the core store (``SparkContext.statusStore()``) holds per-stage task
  totals and task-metric quantiles.

:class:`StatusReader` snapshots the executions that completed after a mark;
:func:`layer_metrics` turns one snapshot into the named per-layer metrics.
Spark renders metric values as strings, e.g.
``"total (min, med, max (stageId: taskId))\\n8.1 s (1.8 s, 2.1 s, 2.1 s (stage 52.0: task 199))"``;
:func:`parse_metric` turns them back into seconds, bytes or counts.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

# Spark formats durations with Utils.msDurationToString ("12 ms", "8.1 s",
# "1.5 m", "1.25 h") and sizes with Utils.bytesToString (binary units).
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB|EiB)?")


@dataclass(frozen=True)
class Metric:
    """One SQL metric: its total over tasks and, when Spark reports them,
    the per-task min / median / max. Times in seconds, sizes in bytes."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None


def _number(text: str) -> float:
    m = _NUM.match(text.strip())
    if not m:
        raise ValueError(f"not a Spark metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2) or "", 1.0)


def parse_metric(text: str) -> Metric:
    """Parse a rendered SQL metric value: a plain ``"4,000"`` / ``"19 ms"`` /
    ``"19.2 MiB"``, the two-line ``total (min, med, max (stageId: taskId))``
    form, or an average metric's ``(min, med, max ...)`` form, which has no
    total (its median stands in)."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return Metric(_number(lines[0]))
    total, _, rest = lines[1].partition("(")
    # ", " separates the three values; "%,d"-style grouping has no space
    parts = rest.split("(")[0].split(", ")
    if len(parts) < 3:
        raise ValueError(f"not a Spark metric value: {text!r}")
    mn, med, mx = (_number(p) for p in parts[:3])
    return Metric(_number(total) if total.strip() else med, mn, med, mx)


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, Metric]


@dataclass
class Stage:
    stage_id: int
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    task_run_med_s: float
    task_run_max_s: float
    shuffle_read_bytes: float
    task_read_med: float
    task_read_max: float


@dataclass
class Execution:
    execution_id: int
    duration_s: float
    nodes: list[Node]
    stages: list[Stage]


class StatusReader:
    """Snapshots of the SQL and core status stores of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()

    def _flush(self) -> None:
        # the stores are fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Id of the newest execution so far; pass it to :meth:`since`."""
        self._flush()
        execs = self._sql.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def since(self, mark: int) -> list[Execution]:
        """Executions newer than ``mark``, with parsed node metrics and the
        stages they ran."""
        self._flush()
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= mark:
                continue
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            out.append(
                Execution(
                    execution_id=e.executionId(),
                    duration_s=(end - e.submissionTime()) / 1000.0,
                    nodes=self._nodes(e.executionId()),
                    stages=self._stages(e.stages()),
                )
            )
        return sorted(out, key=lambda x: x.execution_id)

    def _nodes(self, execution_id: int) -> list[Node]:
        values = self._sql.executionMetrics(execution_id)
        graph = self._sql.planGraph(execution_id).allNodes()
        nodes = []
        for i in range(graph.size()):
            nd = graph.apply(i)
            metrics = {}
            ms = nd.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append(Node(nd.name(), nd.desc(), metrics))
        return nodes

    def _stages(self, stage_ids) -> list[Stage]:
        q = self._gateway.new_array(self._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        it = stage_ids.iterator()
        while it.hasNext():
            sid = it.next()
            sd = self._app.lastStageAttempt(sid)
            if sd.numTasks() == 0 or sd.numCompleteTasks() == 0:
                continue  # skipped stage: its shuffle output was reused
            med_run = max_run = med_read = max_read = 0.0
            summary = self._app.taskSummary(sid, sd.attemptId(), q)
            if summary.isDefined():
                d = summary.get()
                med_run, max_run = d.executorRunTime().apply(0), d.executorRunTime().apply(1)
                rb = d.shuffleReadMetrics().readBytes()
                med_read, max_read = rb.apply(0), rb.apply(1)
            out.append(
                Stage(
                    stage_id=sid,
                    tasks=sd.numTasks(),
                    failed_tasks=sd.numFailedTasks(),
                    run_s=sd.executorRunTime() / 1e3,
                    cpu_s=sd.executorCpuTime() / 1e9,
                    gc_s=sd.jvmGcTime() / 1e3,
                    task_run_med_s=med_run / 1e3,
                    task_run_max_s=max_run / 1e3,
                    shuffle_read_bytes=float(sd.shuffleReadBytes()),
                    task_read_med=med_read,
                    task_read_max=max_read,
                )
            )
        return out


def _total(nodes: list[Node], name: str) -> float:
    return sum(n.metrics[name].total for n in nodes if name in n.metrics)


def _ratio(hi: float, lo: float) -> float:
    return hi / lo if lo > 0 else 0.0


_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
_MANIFEST_DIR = "_manifests"


def layer_metrics(
    execs: list[Execution],
    lineage_execs: list[Execution] = (),
    divergence_execs: list[Execution] = (),
) -> dict[str, float]:
    """Named per-layer metrics of one workload iteration.

    ``execs`` are all executions of the iteration; ``lineage_execs`` and
    ``divergence_execs`` are the subsets that ran inside calls into
    ``sources.lineage`` and ``operators.divergence``, so aggregates and
    writes are charged to the layer that planned them.

    ``extract.py_init_s`` and ``extract.py_run_s`` are sums over tasks, as
    Spark reports them; they overlap each other and upstream work and are
    never wall time.
    """
    nodes = [n for e in execs for n in e.nodes]
    udf = [n for n in nodes if n.name == "MapInPandas"]
    scans = [n for n in nodes if n.name.startswith("Scan parquet")]
    exchanges = [n for n in nodes if n.name == "Exchange"]
    stages = [s for e in execs for s in e.stages]

    writes = [n for e in lineage_execs for n in e.nodes if n.name == _WRITE_NODE]
    data_writes = [n for n in writes if _MANIFEST_DIR not in n.desc]
    manifest_execs = [
        e for e in lineage_execs
        if any(n.name == _WRITE_NODE and _MANIFEST_DIR in n.desc for n in e.nodes)
    ]
    aggs = [n for e in divergence_execs for n in e.nodes if n.name in _AGG_NODES]
    peak = [n.metrics["peak memory"] for n in aggs if "peak memory" in n.metrics]

    # the stage that dominates the iteration sets its task skew; the
    # stage that reads the most shuffle bytes sets the partition skew
    busiest = max(stages, key=lambda s: s.run_s, default=None)
    reader = max(stages, key=lambda s: s.shuffle_read_bytes, default=None)
    return {
        "extract.py_start_s": _total(udf, "time to start Python workers"),
        "extract.py_init_s": _total(udf, "time to initialize Python workers"),
        "extract.py_run_s": _total(udf, "time to run Python workers"),
        "extract.bytes_to_python": _total(udf, "data sent to Python workers"),
        "extract.bytes_from_python": _total(udf, "data returned from Python workers"),
        "extract.rows_out": _total(udf, "number of output rows"),
        "lineage.data_write_bytes": _total(data_writes, "written output"),
        "lineage.data_files_written": _total(data_writes, "number of written files"),
        "lineage.manifest_exec_s": sum(e.duration_s for e in manifest_execs),
        "scan.bytes_read": _total(scans, "size of files read"),
        "scan.time_s": _total(scans, "scan time"),
        "shuffle.bytes_written": _total(exchanges, "shuffle bytes written"),
        "shuffle.records_written": _total(exchanges, "shuffle records written"),
        "shuffle.write_s": _total(exchanges, "shuffle write time"),
        "shuffle.fetch_wait_s": _total(exchanges, "fetch wait time"),
        "shuffle.partition_skew": (
            _ratio(reader.task_read_max, reader.task_read_med)
            if reader and reader.shuffle_read_bytes > 0 else 0.0
        ),
        "divergence.agg_build_s": _total(aggs, "time in aggregation build"),
        "divergence.agg_peak_mem_mb": max(
            (m.max if m.max is not None else m.total for m in peak), default=0.0
        ) / 1e6,
        "divergence.spill_bytes": _total(aggs, "spill size"),
        "divergence.sort_fallback_tasks": _total(aggs, "number of sort fallback tasks"),
        "stages.executor_run_s": sum(s.run_s for s in stages),
        "stages.executor_cpu_s": sum(s.cpu_s for s in stages),
        "stages.gc_s": sum(s.gc_s for s in stages),
        "stages.tasks": float(sum(s.tasks for s in stages)),
        "stages.failed_tasks": float(sum(s.failed_tasks for s in stages)),
        "stages.task_skew": (
            _ratio(busiest.task_run_max_s, busiest.task_run_med_s) if busiest else 0.0
        ),
    }


def median_by_key(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over iterations (keys of the first row)."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
