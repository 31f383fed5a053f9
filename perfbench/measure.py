"""Measurement plumbing for the benchmark: spans, Spark status-store reads
and process-tree memory.

Everything here observes the program from outside. Spans wrap the
benchmark's own calls into public functions; Spark's per-node SQL metrics
are read from the driver's status store after a call returns, joined to
the span by the job description the span set.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

# Scale suffixes of the strings Spark's status store formats metrics into
# (``SQLMetrics.stringValue``): sizes in binary units, timings in ms/s/m/h.
_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Total of one formatted SQL metric, in bytes, seconds or a count.

    Accepts ``'1,234'``, ``'70 ms'``, ``'1651.0 KiB'`` and the per-task
    form ``'total (min, med, max (stageId: taskId))\\n7.2 s (1.5 s, ...)'``.
    """
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _SCALE.get(unit, 1.0)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around benchmark
    calls. Disabled, it records nothing and sets no job labels, so an
    untraced run pays only the context-manager entry."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Yield the span's job label (``None`` when disabled). Spark jobs
        submitted inside carry that label as their description."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        label = f"{self.run_id}/{sid}/{name}"
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, "label": label}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        try:
            yield label
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            sc.setJobDescription(self.spans[self._stack[-1]]["label"] if self._stack else None)


def executions(spark, label: str) -> list[dict]:
    """SQL executions whose description is ``label``, oldest first, each as
    ``{"duration_s", "plan", "nodes": [(node name, {metric: raw string})]}``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() != label:
            continue
        done = e.completionTime()
        values = store.executionMetrics(e.executionId())
        nodes = []
        nit = store.planGraph(e.executionId()).allNodes().iterator()
        while nit.hasNext():
            n = nit.next()
            mets = {}
            mit = n.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    mets[m.name()] = v.get()
            nodes.append((n.name(), mets))
        out.append({
            "id": e.executionId(),
            "duration_s": (done.get().getTime() - e.submissionTime()) / 1e3
            if done.isDefined() else float("nan"),
            "plan": e.physicalPlanDescription(),
            "nodes": nodes,
        })
    out.sort(key=lambda x: x["id"])
    return out


def node_sum(execs: list[dict], node: str, metric: str) -> float:
    """Sum of ``metric`` over every node whose name starts with ``node``."""
    return sum(
        metric_value(mets[metric])
        for ex in execs for name, mets in ex["nodes"]
        if name.startswith(node) and metric in mets
    )


def spark_jobs(spark, label: str) -> int:
    """Spark jobs (SQL or not, e.g. checkpoint probes) submitted under ``label``."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    n = 0
    it = jobs.iterator()
    while it.hasNext():
        d = it.next().description()
        n += d.isDefined() and d.get() == label
    return n


def observe_exprs(plan: str) -> int:
    """Aggregate expressions in the formatted plan's ``CollectMetrics``
    node. The plan lists the first ones and elides the rest as
    ``... N more fields``."""
    for section in plan.split("\n\n"):
        lines = section.strip().splitlines()
        if not lines or not re.match(r"\(\d+\) CollectMetrics$", lines[0]):
            continue
        for line in lines:
            if line.startswith("Arguments: "):
                more = re.search(r"\.\.\. (\d+) more fields\]$", line)
                return line.count(" AS ") + (int(more.group(1)) if more else 0)
    return 0


def _tree_pss_bytes(root: int) -> int:
    """Proportional resident memory of ``root`` and its descendants: pages
    shared between processes (forked Python workers) count once overall."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since the scan
    return total


class MemorySampler:
    """Background thread that samples the process tree's proportional
    resident memory and keeps the peak. Use as a context manager."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    ``root`` and its live descendants: the driver, the JVM and the Python
    workers. Time the hypervisor steals is not charged to them."""
    ticks = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited since the scan
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError):
                continue
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parent.items() if p == pid]
        out.update(kids)
        todo.extend(kids)
    return out
