"""Measurement plumbing: spans, Spark SQL metrics, worker memory.

Everything here observes the program from outside. Spans wrap calls
into the package's public functions; SQL metrics come from Spark's own
status store after each action (it works with ``spark.ui.enabled=false``);
worker memory is read from ``/proc`` because psutil is not installed.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once when the run ends. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump(self.spans, f)


# "total (min, med, max (stageId: taskId))\n7.1 s (2.6 s, 4.5 s, 4.5 s (stage 1.0: task 1))"
_DIST_RE = re.compile(r"\n(.+?) \((.+?), (.+?), (.+?) \(stage (\d+)\.\d+: task \d+\)\)")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


def _parse_quantity(text: str) -> float:
    num, unit = text.strip().split(" ")
    return float(num.replace(",", "")) * _UNITS[unit]


class SqlMetrics:
    """Reads per-operator SQL metrics of finished executions from the
    status store. ``mark()`` before an action and ``since(mark)`` after
    it return the executions the action ran (the driver is single
    threaded, so execution ids are sequential)."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext

    def mark(self) -> int:
        return self._store.executionsList().size()

    def since(self, mark: int) -> list[dict]:
        lst = self._store.executionsList()
        return [self._execution(lst.apply(i)) for i in range(mark, lst.size())]

    def _execution(self, e) -> dict:
        eid = e.executionId()
        strings = self._store.executionMetrics(eid)
        nodes = []
        graph_nodes = self._store.planGraph(eid).allNodes()
        for j in range(graph_nodes.size()):
            n = graph_nodes.apply(j)
            metrics = {}
            ms = n.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                acc_id = m.accumulatorId()
                text = strings.get(acc_id)
                text = text.get() if text.isDefined() else ""
                acc = self._acc.get(acc_id)
                raw = acc.get().value() if acc.isDefined() else None
                metrics[m.name()] = {"raw": raw, "text": text, "id": acc_id,
                                     "type": m.metricType()}
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        done = e.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else None
        return {"id": eid, "desc": e.description(),
                "wall_s": (end_ms - e.submissionTime()) / 1000.0 if end_ms else 0.0,
                "jobs": e.jobs().size(), "nodes": nodes}

    def stage_tasks(self, stage_id: int) -> int:
        info = self._spark.sparkContext.statusTracker().getStageInfo(stage_id)
        return info.numTasks if info is not None else 0


def _metrics(execs: list[dict], node_prefix: str, metric: str):
    """Each distinct instance of one metric on nodes whose name starts
    with ``node_prefix``. A cached subtree shows up in the plan of every
    execution that reads the cache, with the same accumulators, so an
    accumulator id is counted once."""
    seen = set()
    for e in execs:
        for n in e["nodes"]:
            m = n["metrics"].get(metric) if n["name"].startswith(node_prefix) else None
            if m is not None and m["id"] not in seen:
                seen.add(m["id"])
                yield m


def metric_total(execs: list[dict], node_prefix: str, metric: str) -> float:
    """Sum of one metric over every node whose name starts with
    ``node_prefix``, in base units (s for timings, bytes for sizes).
    Spark drops an accumulator once its plan is collected; the total
    then comes from the status store's text, at its display precision
    (0.1 s, 0.1 MiB)."""
    total = 0.0
    for m in _metrics(execs, node_prefix, metric):
        raw = m["raw"]
        if raw is None:
            text = m["text"].split("\n")[-1].split(" (")[0]
            if text:  # empty: the node never ran a task
                total += _parse_quantity(text) if " " in text else float(text.replace(",", ""))
        elif m["type"] == "timing":
            total += raw / 1e3
        elif m["type"] == "nsTiming":
            total += raw / 1e9
        else:
            total += raw
    return total


def metric_distributions(execs: list[dict], node_prefix: str, metric: str
                         ) -> list[tuple[float, float, float, int]]:
    """Per-task (min, median, max, stage id) of one metric, one tuple per
    matching node that ran tasks."""
    out = []
    for m in _metrics(execs, node_prefix, metric):
        match = _DIST_RE.search(m["text"])
        if match:
            _, lo, med, hi, stage = match.groups()
            out.append((_parse_quantity(lo), _parse_quantity(med),
                        _parse_quantity(hi), int(stage)))
    return out


def nodes_reading(execs: list[dict], path_fragment: str) -> list[dict]:
    """Executions with a file scan whose location mentions ``path_fragment``."""
    return [e for e in execs
            if any(n["name"].startswith("Scan") and path_fragment in n["desc"]
                   for n in e["nodes"])]


def _descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier} - out
        out |= kids
        frontier = kids
    return out


def worker_peak_rss_mb() -> float:
    """Largest VmHWM, in MiB, among this process's Python-worker
    descendants (the pyspark daemon and the workers it forks)."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


class RssSampler:
    """Samples worker VmHWM on a background thread while a job runs.
    VmHWM is a per-process high-water mark, so a worker that peaks
    between samples is still caught if it lives to the next one."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, worker_peak_rss_mb())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, worker_peak_rss_mb())
        return False


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> float:
    """Mean of the slowest quarter of the samples, at least one (the
    expected shortfall at 75%). At the 1-16 samples a run gives, a high
    percentile is the maximum, which follows a single slow sample."""
    xs = sorted(values, reverse=True)
    return float(statistics.fmean(xs[:max(1, len(xs) // 4)]))
