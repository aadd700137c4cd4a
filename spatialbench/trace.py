"""Measurement helpers that stay outside the engine.

- ``Tracer``: in-memory spans (name, start, end, parent, run id) around
  the benchmark's calls into each layer, written out once at the end.
- ``PlanMetrics``: Spark's own SQL plan metrics, read from the driver's
  status store after each job (no change to the library).
- ``RssSampler``: peak resident set size of this process, the JVM it
  launched and the largest of the JVM's Python workers, read from /proc.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory. A disabled tracer records nothing, so the
    untraced run pays one attribute check per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark SQL plan metrics
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Status-store metric text -> number (bytes, seconds or a count).
    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.strip().split("\n")[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    return num


class PlanMetrics:
    """Reads the plan graph and metric values of every SQL execution
    that finished since the previous call."""

    def __init__(self, spark):
        self._jss = spark._jsparkSession
        self._store = self._jss.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        lst = self._store.executionsList()
        ids = [lst.apply(i).executionId() for i in range(lst.size())]
        self._next = max(ids) + 1 if ids else 0

    def new_nodes(self) -> list[dict]:
        """[{name, desc, metrics: {metric name: value}}] over all plan
        nodes of the executions that ended since the last call."""
        self._bus.waitUntilEmpty()
        nodes: list[dict] = []
        eid, misses = self._next, 0
        while misses < 8:
            ex = self._store.execution(eid)
            if not ex.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            nodes.extend(self._nodes_of(eid))
            eid += 1
            self._next = eid
        return nodes

    def _nodes_of(self, eid: int) -> list[dict]:
        values = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid).allNodes()
        out = []
        for i in range(graph.size()):
            node = graph.apply(i)
            ms = node.metrics()
            metrics = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            out.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
        return out


def plan_sum(nodes, metric: str, names=None, desc_has: str | None = None) -> float:
    """Sum of one metric over nodes filtered by name and description."""
    total = 0.0
    for n in nodes:
        if names is not None and n["name"] not in names:
            continue
        if desc_has is not None and desc_has not in n["desc"]:
            continue
        total += n["metrics"].get(metric, 0.0)
    return total


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow")


def python_metrics(nodes) -> dict[str, float]:
    return {
        "rows": plan_sum(nodes, "number of output rows", PYTHON_NODES),
        "bytes_sent": plan_sum(nodes, "data sent to Python workers", PYTHON_NODES),
        "run_s": plan_sum(nodes, "time to run Python workers", PYTHON_NODES),
    }


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; the ppid is the second field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples RSS of this process tree every ``period`` s on a daemon
    thread.

    ``peak_mb`` is the largest sum of the driver, the JVM and the
    ``top_workers`` largest Python workers. Spark keeps finished workers
    in an idle pool, and how many it forks beyond one per running task
    races between runs (12 to 20+ for the same job at local[4]), so the
    rest of the pool would make the peak bimodal; it is still sampled,
    as ``tree_peak_mb`` and ``max_workers``."""

    def __init__(self, top_workers: int, period: float = 0.1):
        self.top_workers = top_workers
        self.period = period
        self.peak_kb = 0
        self.tree_peak_kb = 0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            main, workers = _rss_kb(me), []
            for p in descendants(me):
                if _comm(p) == "java":
                    main += _rss_kb(p)
                else:
                    workers.append(_rss_kb(p))
            workers.sort(reverse=True)
            self.peak_kb = max(self.peak_kb, main + sum(workers[: self.top_workers]))
            self.tree_peak_kb = max(self.tree_peak_kb, main + sum(workers))
            self.max_workers = max(self.max_workers, len(workers))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def tree_peak_mb(self) -> float:
        return self.tree_peak_kb / 1024.0
