"""Spans, Spark status-store readout and host controls for the traced run.

Reads the engine from outside only: each public call runs under its own
Spark job group, and after it returns the readout collects that group's
jobs and stages from Spark's status store (task time, shuffle, spill, peak
execution memory, failed tasks, input records) plus the optimizer phase
time of the call's DataFrame, and on request the time its SQL executions
spent in Python workers.  Spans live in memory and are written as JSON at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span tree of public calls.  Disabled, it only yields and records
    nothing, so the untraced run pays no readout."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = None  # spans of one request share this identifier

    @contextmanager
    def span(self, name: str, spark_group: bool = False):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "request": self.request,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = None
        if spark_group and self.spark is not None:
            group = rec["group"] = f"perfbench-{rec['id']}"
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            wall = rec["end"] - rec["start"]
            rec["self_s"] = wall - rec.pop("child_s")
            if self._stack:
                self._stack[-1]["child_s"] += wall
            if group is not None:
                # jobs after a nested call belong to the enclosing span again
                outer = self._stack[-1].get("group") if self._stack else None
                if outer is None:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.spark.sparkContext.setJobGroup(outer, self._stack[-1]["name"])
                rec["spark"] = stage_readout(self.spark, group, wall)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def timed(module, attr: str):
    """Accumulate the wall time of every call to ``module.attr`` made
    inside the block (callers resolve the attribute at call time)."""
    fn = getattr(module, attr)
    acc = {"s": 0.0}

    def wrapper(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            acc["s"] += time.perf_counter() - t0

    setattr(module, attr, wrapper)
    try:
        yield acc
    finally:
        setattr(module, attr, fn)


def optimizer_ms(df) -> float | None:
    """Catalyst optimization phase time of an executed DataFrame."""
    try:
        ph = df._jdf.queryExecution().tracker().phases().get("optimization")
        return float(ph.get().durationMs()) if ph.isDefined() else None
    except Exception:  # noqa: BLE001 - py4j surface differs across versions
        return None


def stage_readout(spark, group: str, wall_s: float) -> dict:
    """Jobs and per-stage task metrics of one job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
        "task_s": 0.0, "shuffle_bytes": 0, "shuffle_records": 0,
        "spill_bytes": 0, "peak_mem_bytes": 0, "input_records": 0,
    }
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages never ran
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["tasks_failed"] += sd.numFailedTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_records"] += sd.shuffleWriteRecords()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"], sd.peakExecutionMemory())
            out["input_records"] += sd.inputRecords()
    out["wall_s"] = wall_s
    return out


def _duration_ms(text: str) -> float:
    """Parse a Spark UI duration ("748 ms", "2.5 s", "1.2 m", "1.01 h")."""
    value, unit = text.split()[:2]
    return float(value) * {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}[unit]


def python_worker_ms(spark, group: str) -> float:
    """Time a job group's SQL executions spent in Python workers (the
    mapInPandas / Arrow UDF boundary): the "time to run Python workers"
    metric of each Python node in the SQL status store."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    execs = store.executionsList().iterator()
    while execs.hasNext():
        ex = execs.next()
        ids = ex.jobs().keys().iterator()
        if not any(int(ids.next()) in jobs for _ in range(ex.jobs().size())):
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            metrics = nodes.next().metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "time to run Python workers" and v.isDefined():
                    # one task: "2.5 s"; more: "total (min, med, max ...)\n2.5 s (...)"
                    total += _duration_ms(v.get().split("\n")[-1])
    return total


def cpu_control(n: int = 1_000_000) -> float:
    """Seconds of a fixed pure-Python loop (BENCH/_host.py's CPU control,
    one process): shows how much CPU the host gives right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def dram_control(nbytes: int = 64 * 1024 * 1024) -> float:
    """Seconds to stream-reduce a buffer far larger than L3, 4 times
    (BENCH/_host.py's DRAM control, one process)."""
    import numpy as np

    a = np.ones(nbytes // 8, dtype=np.float64)
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(4):
        s += float(a.sum())
    assert s > 0
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_ticks`` readings: other tenants' load during the run."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def host_record() -> dict:
    return {"cpu_control_s": cpu_control(), "dram_control_s": dram_control()}
