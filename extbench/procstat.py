"""Process-tree CPU, Python-worker peak RSS and host steal, read from /proc.

The benchmark's process tree is the driver (this process), the JVM that
PySpark launches, and the Python workers the JVM forks. CPU is summed
over the live tree including each process's reaped children, so a worker
that exits between two readings is still counted, through its parent.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the process and its reaped children)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited while we listed
            continue
        fields = raw[raw.rindex(b")") + 2:].split()
        # fields[1] = ppid, [11..14] = utime, stime, cutime, cstime
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its descendants."""
    table = _proc_table()
    pids = _descendants(table, root or os.getpid())
    return sum(table[p][1] for p in pids if p in table) / _TICK


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    return _descendants(_proc_table(), os.getpid())[1:]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2:][:1] != b"Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until ``pids`` have ended; at the timeout kill what is left and
    wait as long again."""
    left = list(pids)
    for kill in (False, True):
        deadline = time.monotonic() + timeout_s
        while left and time.monotonic() < deadline:
            left = [p for p in left if _running(p)]
            time.sleep(0.05)
        if not left or kill:
            break
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _python_workers() -> list[int]:
    out = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if any(m in f.read() for m in _WORKER_MARKERS):
                    out.append(pid)
        except OSError:
            continue
    return out


def _peak_rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status", "rb") as f:
        for line in f:
            if line.startswith(b"VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class WorkerPeakRss:
    """Largest Python-worker resident set seen while active.

    On start it resets each live worker's high-water mark (``clear_refs``
    5), so memory used during set-up is not counted; a thread then polls
    every worker's ``VmHWM``, which also catches a worker's peak between
    polls."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def __enter__(self) -> "WorkerPeakRss":
        for pid in _python_workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # not permitted here: the mark then includes set-up
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()

    def _poll(self) -> None:
        for pid in _python_workers():
            try:
                self.peak_bytes = max(self.peak_bytes, _peak_rss_bytes(pid))
            except OSError:
                continue

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._poll()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user, so total stops at steal
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0
