"""The engine's one metrics collector.

``span(spark, name)`` tags the Spark jobs a block launches
(``SparkContext.addJobTag``) and, on exit, fills the dict it yielded from
Spark's status stores: the benchmark tracer's keys (``jobs``, ``stages``
that ran, ``tasks``, ``tasks_failed``, ``task_s``, ``shuffle_bytes``,
``shuffle_records``, ``spill_bytes``, ``peak_mem_bytes``,
``input_records``, ``wall_s``); ``job_ids``; ``per_stage`` as
``{id, name, tasks, task_s, span_s}``; ``partition_rows``, the rows each
task of the last writing stage wrote; ``operators``, ``{nodes, rows,
bytes}`` per kind (scan, exchange, broadcast, join, aggregate, python —
the Python/Arrow boundary) over the SQL plans that ran the jobs;
``python_ms`` of their Python workers; and ``decisions``, each
``plan_choice.small`` answer given in the block.  Tags leave the caller's
job group alone, so a span nested in a job-group tracer or another span
takes no jobs from it.  Only SQL executions submitted after the span
opened are read.
"""

from __future__ import annotations

import threading
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_KINDS = ("scan", "exchange", "broadcast", "join", "aggregate", "python")
_BYTES = {
    "scan": ("size of files read",),
    "exchange": ("shuffle bytes written",),
    "broadcast": ("data size",),
    "python": ("data sent to Python workers", "data returned from Python workers"),
}
_PYTHON_TIME = "time to run Python workers"
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


class _Open(threading.local):  # job tags are per thread, so are open spans
    def __init__(self):
        self.spans: list[dict] = []


_OPEN = _Open()


@contextmanager
def span(spark: SparkSession, name: str):
    tag = f"gss-span-{uuid.uuid4().hex}"
    rec: dict = {"name": name, "decisions": []}
    since_ms, t0 = int(time.time() * 1000), time.perf_counter()
    spark.sparkContext.addJobTag(tag)
    _OPEN.spans.append(rec)
    try:
        yield rec
    finally:
        wall = time.perf_counter() - t0
        _OPEN.spans.remove(rec)
        spark.sparkContext.removeJobTag(tag)
        rec.update(_readout(spark, tag, since_ms, wall))


def _note(decision: dict) -> None:
    """Log a plan decision into every span open on this thread."""
    for rec in _OPEN.spans:
        rec["decisions"].append(decision)


def _readout(spark: SparkSession, tag: str, since_ms: int, wall_s: float) -> dict:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    store = jsc.statusStore()
    job_ids = sorted(int(j) for j in jsc.statusTracker().getJobIdsForTag(tag))
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "tasks_failed": 0,
        "task_s": 0.0, "shuffle_bytes": 0, "shuffle_records": 0,
        "spill_bytes": 0, "peak_mem_bytes": 0, "input_records": 0,
        "wall_s": wall_s, "job_ids": job_ids, "per_stage": [], "partition_rows": [],
    }
    infos = [spark.sparkContext.statusTracker().getJobInfo(j) for j in job_ids]
    writer = None
    for sid in sorted({s for info in infos if info is not None for s in info.stageIds}):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted (the store drops skipped stages first)
            continue
        start, end = sd.submissionTime(), sd.completionTime()
        if not start.isDefined():  # skipped: its shuffle output was reused
            continue
        tasks, task_s = sd.numCompleteTasks() + sd.numFailedTasks(), sd.executorRunTime() / 1e3
        out["per_stage"].append({
            "id": sid, "name": sd.name(), "tasks": tasks, "task_s": task_s,
            "span_s": (end.get().getTime() - start.get().getTime()) / 1e3
            if end.isDefined() else None,
        })
        out["stages"] += 1
        out["tasks"] += tasks
        out["tasks_failed"] += sd.numFailedTasks()
        out["task_s"] += task_s
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_records"] += sd.shuffleWriteRecords()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["peak_mem_bytes"] = max(out["peak_mem_bytes"], sd.peakExecutionMemory())
        out["input_records"] += sd.inputRecords()
        writer = sd if sd.outputRecords() > 0 else writer
    if writer is not None:
        rows = {  # the successful attempt per task index: retries count once
            t.index(): t.taskMetrics().get().outputMetrics().recordsWritten()
            for t in _iter(store.taskList(writer.stageId(), writer.attemptId(), 2**31 - 1))
            if t.status() == "SUCCESS" and t.taskMetrics().isDefined()
        }
        out["partition_rows"] = [rows[i] for i in sorted(rows)]
    out.update(_sql_readout(spark, set(job_ids), since_ms))
    return out


def _sql_readout(spark: SparkSession, job_ids: set[int], since_ms: int) -> dict:
    store = spark._jsparkSession.sharedState().statusStore()
    ops = {k: {"nodes": 0, "rows": 0, "bytes": 0} for k in _KINDS}
    python_ms = 0.0
    for ex in _executions_since(store, since_ms):
        if not job_ids & {int(j) for j in _iter(ex.jobs().keys())}:
            continue
        values = store.executionMetrics(ex.executionId())
        for node in _iter(store.planGraph(ex.executionId()).allNodes()):
            kind = _kind(node.name())
            if kind is None:
                continue
            ops[kind]["nodes"] += 1
            rows = "shuffle records written" if kind == "exchange" else "number of output rows"
            for m in _iter(node.metrics()):
                name = m.name()
                if name != rows and name != _PYTHON_TIME and name not in _BYTES.get(kind, ()):
                    continue
                v = values.get(m.accumulatorId())
                total = _total(v.get()) if v.isDefined() else 0
                if name == _PYTHON_TIME:
                    python_ms += total
                else:
                    ops[kind]["rows" if name == rows else "bytes"] += int(total)
    return {"operators": ops, "python_ms": python_ms}


def _executions_since(store, since_ms: int) -> list:
    """Executions submitted at or after ``since_ms``, read from the tail of
    the store's id-ordered list."""
    total, n = store.executionsCount(), 16
    while True:
        tail = list(_iter(store.executionsList(max(0, total - n), n)))
        if n >= total or not tail or tail[0].submissionTime() < since_ms:
            return [ex for ex in tail if ex.submissionTime() >= since_ms]
        n *= 4


def _kind(node: str) -> str | None:
    if "Python" in node or "Pandas" in node or "Arrow" in node:
        return "python"
    if "Join" in node or node == "CartesianProduct":
        return "join"
    if node.startswith("BroadcastExchange"):
        return "broadcast"
    if "Exchange" in node:
        return "exchange"
    if "Aggregate" in node:
        return "aggregate"
    return "scan" if "Scan" in node or node == "Range" else None


def _total(text: str) -> float:
    """Total of a formatted SQL metric: ``1,234``, ``2.5 s``, or
    ``total (min, med, max ...)\\n336.0 B (...)``."""
    head = text.split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def _iter(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
