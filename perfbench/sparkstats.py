"""What the benchmark reads from a running Spark session: per-node SQL
metrics from the status store (available with the UI off), task
durations, job counts, JVM GC time, and the peak RSS of the JVM plus
its Python workers sampled from ``/proc``."""

from __future__ import annotations

import os
import re
import threading
from collections import defaultdict
from typing import Dict, List, Tuple

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text) -> float:
    """A status-store metric string as a number in seconds, bytes or
    units: ``'2,000'``, ``'857 ms'``, or the aggregated form
    ``'total (min, med, max ...)\\n1.1 s (230 ms, ...)'``."""
    if text is None:
        return 0.0
    text = str(text)
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Per-node SQL metrics of the executions that start after
    :meth:`mark`."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = 0

    def mark(self) -> None:
        self._seen = int(self._store.executionsCount())

    def collect(self) -> Tuple[Dict[Tuple[str, str], float], List[Tuple[float, List[str]]]]:
        """``(metrics, executions)`` since the last mark: metrics summed by
        ``(node name, metric name)``, and each execution's seconds with
        the names of its plan nodes."""
        out: Dict[Tuple[str, str], float] = defaultdict(float)
        executions = []
        execs = self._store.executionsList(self._seen, 1 << 20)
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            names = []
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name().strip()
                names.append(name)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[(name, m.name())] += parse_metric(v.get())
            end = ex.completionTime()
            seconds = (end.get().getTime() - ex.submissionTime()) / 1000.0 if end.isDefined() else 0.0
            executions.append((seconds, names))
        self.mark()
        return dict(out), executions


def python_node_sums(metrics: Dict[Tuple[str, str], float], node: str | None = None) -> dict:
    """Python-worker metrics summed over ``MapIn*`` / ``ArrowEvalPython``
    style nodes (or one node name)."""
    keys = {
        "boot_s": "time to start Python workers",
        "init_s": "time to initialize Python workers",
        "run_s": "time to run Python workers",
        "bytes_to_python": "data sent to Python workers",
        "bytes_from_python": "data returned from Python workers",
    }
    out = {k: 0.0 for k in keys}
    for (n, m), v in metrics.items():
        if node is not None and n != node:
            continue
        for k, label in keys.items():
            if m == label:
                out[k] += v
    return out


def metric_sum(metrics: Dict[Tuple[str, str], float], metric: str, node_prefix: str = "") -> float:
    return sum(
        v for (n, m), v in metrics.items() if m == metric and n.startswith(node_prefix)
    )


def job_ids(spark, group: str) -> List[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def task_durations(spark, jobs: List[int]) -> List[float]:
    """Durations in seconds of every finished task of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out: List[float] = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = tracker.getStageInfo(sid)
            if stage is None:
                continue
            tasks = store.taskList(sid, stage.currentAttemptId, 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    out.append(d.get() / 1000.0)
    return out


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and all its descendants, in MB."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples :func:`tree_rss_mb` of a process tree on a thread until
    stopped; ``peak`` is the largest sample."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval, self.peak = root, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_mb(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.root))
