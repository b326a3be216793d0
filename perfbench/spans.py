"""Spans and Spark status-store readers for the traced run.

Spans are recorded by the benchmark around its calls into the engine
(session start, query builder, ``load_table`` scan, ``gather``), kept in
memory and written out when the run ends. Spark job, stage and SQL
plan-node numbers are read from the status stores after each action, so
they cost no second job and work with the UI disabled.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; yields its index (None when off)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, attrs=attrs))
        index = len(self.spans) - 1
        self._stack.append(index)
        try:
            yield index
        finally:
            self.spans[index].end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps counted
    once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            a, b = max(s.start, p.start), min(s.end, p.end)
            if b > a:
                children.setdefault(s.parent, []).append((a, b))
    return [
        (s.end - s.start) - _union_length(children.get(i, []))
        for i, s in enumerate(spans)
    ]


# --- Spark status stores ----------------------------------------------------

PYTHON_NODE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDTF)")

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "": 1.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds, bytes or count.

    The SQL status store renders a metric either as a bare value
    (``"1.8 s"``, ``"151.6 KiB"``, ``"1,024"``) or, when several tasks
    reported it, as ``"total (min, med, max ...)\\n<total> (...)"``.
    """
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """Reads what one job group launched, from Spark's status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = int(self.sql.executionsCount())

    def jobs(self, group: str) -> dict:
        """Jobs, stages, tasks and per-stage executor totals of a group,
        plus the union of its jobs' wall intervals in seconds."""
        out = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
                   shuffle_write_b=0.0, shuffle_read_b=0.0, spill_b=0.0,
                   gc_s=0.0, job_wall_s=0.0)
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.app.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            for stage_id in _iter(job.stageIds()):
                sd = self.app.lastStageAttempt(stage_id)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1e3
        out["job_wall_s"] = _union_length(intervals)
        return out

    def python_nodes(self) -> dict:
        """Python-crossing plan nodes of the SQL executions that ran
        since the previous call, with their summed worker metrics."""
        out = dict(nodes=0, start_s=0.0, run_s=0.0, sent_b=0.0, returned_b=0.0)
        total = int(self.sql.executionsCount())
        if total > self._sql_seen:
            execs = self.sql.executionsList(self._sql_seen, total - self._sql_seen)
            for ex in _iter(execs):
                self._add_python(ex.executionId(), out)
        self._sql_seen = total
        return out

    def _add_python(self, exec_id, out: dict) -> None:
        graph = self.sql.planGraph(exec_id)
        metrics = self.sql.executionMetrics(exec_id)
        for node in _iter(graph.allNodes()):
            if not PYTHON_NODE.search(node.name()):
                continue
            out["nodes"] += 1
            for pm in _iter(node.metrics()):
                value = metrics.get(pm.accumulatorId())
                if not value.isDefined():
                    continue
                key = {
                    "time to start Python workers": "start_s",
                    "time to run Python workers": "run_s",
                    "data sent to Python workers": "sent_b",
                    "data returned from Python workers": "returned_b",
                }.get(pm.name())
                if key:
                    out[key] += parse_metric(value.get())
