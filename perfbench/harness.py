"""Measurement plumbing shared by the workloads: an in-memory span tracer,
host facts and health from /proc, process peak memory, Spark engine
counters, and the order statistics the benchmark reports.

Nothing here imports the engine; the workloads call into it and use these
helpers around those calls.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import time
from contextlib import contextmanager, nullcontext


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span has an id, a name, the layer it times, the iteration it belongs
    to, the id of the span that encloses it, and perf_counter start/end.
    ``note`` attaches per-call facts (the engine's own phase breakdown) to
    a named call of the current iteration.
    """

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.notes: dict[str, list[dict]] = {}
        self.iteration: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration, "name": name, "layer": layer,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def note(self, name: str, facts: dict) -> None:
        self.notes.setdefault(name, []).append(dict(facts))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per iteration, per layer: span duration minus the part of it
        that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            per_layer = out.setdefault(s["iteration"], {})
            per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "notes": self.notes}, fh)


class NullTracer:
    """The untraced run: same call sites, nothing recorded."""

    enabled = False
    iteration = None

    def span(self, name: str, layer: str):
        return nullcontext()

    def note(self, name: str, facts: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# host facts and health
# ---------------------------------------------------------------------------
def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def health_delta(before: list[int], after: list[int]) -> dict:
    """CPU utilisation, iowait and steal over an interval, in percent of
    all CPU time the host accounted in it."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"util_pct": round(100.0 * busy / total, 2),
            "iowait_pct": round(100.0 * d[4] / total, 2),
            "steal_pct": round(100.0 * d[7] / total, 2)}


def host_facts(seed: int, heap: str, spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"seed": seed, "nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
            "driver_heap": heap, "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": str(jvm.System.getProperty("java.version"))}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


# ---------------------------------------------------------------------------
# Spark engine counters
# ---------------------------------------------------------------------------
class SparkCounters:
    """Jobs, tasks and shuffle bytes written, per job group, read from the
    status tracker and the application status store of the live context."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def _totals(self) -> tuple[int, int]:
        # the listener bus delivers task-end events asynchronously; drain it
        # so the store reflects every task of the actions that returned
        self._jsc.listenerBus().waitUntilEmpty()
        execs = self._jsc.statusStore().executorList(True)
        tasks = shuffle = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            tasks += e.totalTasks()
            shuffle += e.totalShuffleWrite()
        return tasks, shuffle

    @contextmanager
    def group(self, group_id: str, out: dict):
        tasks0, shuffle0 = self._totals()
        self._sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        tasks1, shuffle1 = self._totals()
        out["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group_id))
        out["tasks"] = tasks1 - tasks0
        out["shuffle_write_bytes"] = shuffle1 - shuffle0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = float(values[0]) if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
