"""Traced-run instruments: in-memory spans and Spark status-store reads.

Spans are recorded from the benchmark's side of each layer boundary
(around calls into the engine's public functions); nothing inside the
engine is edited. Status-store reads happen right after each operation,
outside its timed region and before Spark evicts the stages.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time


class Tracer:
    """Spans kept in memory: name, start, end, parent index, op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` is a
        string or a callable of the call's arguments returning one."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def totals(self, op: str) -> dict[str, float]:
        """Summed duration per span name within one operation."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_time(self, name: str, op: str) -> float:
        """Duration of ``name`` spans in one operation minus their children's."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] == name and s["op"] == op:
                total += s["end"] - s["start"] - sum(
                    c["end"] - c["start"] for c in self.spans if c["parent"] == i
                )
        return total


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
#: SQL plan nodes that run Python/Arrow kernels in Python workers.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "ArrowEvalPythonUDTF",
)


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric ('7.2 s', or the
    'total (min, med, max ...)' two-line form, whose 2nd line leads with
    the total)."""
    line = text.split("\n")[-1]
    m = _DURATION.search(line)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _intervals_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class StatusStore:
    """Reads one job group's jobs and stages from ``statusStore()``
    (works with the UI off), plus Python-worker time from the SQL
    store's plan metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.python_nodes = 0
        self.python_metric_seen = False
        self._sql_seen = self.sql.executionsCount()

    def read(self, group: str) -> dict:
        jobs = stages = tasks = 0
        run_ms = gc_ms = 0
        cpu_ns = shuffle_r = shuffle_w = spill = 0
        job_iv: list[tuple[int, int]] = []
        stage_iv: list[tuple[int, int]] = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                job_iv.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            ids = job.stageIds().iterator()
            while ids.hasNext():
                attempts = self.store.stageData(ids.next(), False, None, False, None)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if str(s.status()) == "SKIPPED":
                        continue
                    stages += 1
                    tasks += s.numCompleteTasks() + s.numFailedTasks()
                    run_ms += s.executorRunTime()
                    cpu_ns += s.executorCpuTime()
                    gc_ms += s.jvmGcTime()
                    shuffle_r += s.shuffleReadBytes()
                    shuffle_w += s.shuffleWriteBytes()
                    spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    if s.submissionTime().isDefined() and s.completionTime().isDefined():
                        stage_iv.append(
                            (s.submissionTime().get().getTime(), s.completionTime().get().getTime())
                        )
        return {
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "executor_run_s": run_ms / 1e3,
            "executor_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1e3,
            "shuffle_read_mb": shuffle_r / 2**20,
            "shuffle_write_mb": shuffle_w / 2**20,
            "spill_mb": spill / 2**20,
            "job_wall_s": _intervals_s(job_iv),
            "stage_wall_s": _intervals_s(stage_iv),
        }

    def python_s(self) -> float:
        """'time to run Python workers' summed over Python plan nodes of
        every SQL execution since the previous call."""
        count = self.sql.executionsCount()
        total = 0.0
        if count > self._sql_seen:
            execs = self.sql.executionsList(self._sql_seen, count - self._sql_seen)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                values = self.sql.executionMetrics(eid)
                nodes = self.sql.planGraph(eid).allNodes()
                for k in range(nodes.size()):
                    node = nodes.apply(k)
                    if not node.name().startswith(PYTHON_NODES):
                        continue
                    self.python_nodes += 1
                    metrics = node.metrics()
                    for q in range(metrics.size()):
                        m = metrics.apply(q)
                        if m.name() == "time to run Python workers":
                            self.python_metric_seen = True
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                total += _duration_s(v.get())
        self._sql_seen = count
        return total
