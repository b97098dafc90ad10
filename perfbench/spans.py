"""Spans and per-layer counters for the traced run.

Spans are kept in memory and written once at the end. A span's self time
is its duration minus the part of its interval that its child spans
cover. Spark counters come from the status store, read per job group,
and from the SQL metrics of the Python nodes in an action's final plan.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

# SQL metric keys that every Python-evaluating plan node carries
# (PythonSQLMetrics), mapped to the per-layer metric they feed.
PYTHON_METRICS = {
    "pythonTotalTime": "operators.python_total_s",
    "pythonBootTime": "operators.python_boot_s",
    "pythonInitTime": "operators.python_init_s",
    "pythonDataSent": "operators.python_sent_mb",
    "pythonDataReceived": "operators.python_received_mb",
    "pythonNumRowsReceived": "operators.python_rows",
}

# Stage counters read from the status store, with the unit scale that
# turns each into the unit of its metric (ms→s, ns→s, bytes→MB).
STAGE_COUNTERS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "input_mb": ("inputBytes", 1e-6),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    pass_no: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise (or with ``on=False``)
    ``span`` only runs its body, so traced and untraced code paths are
    the same."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, op: str | None = None, pass_no: int | None = None,
             on: bool = True):
        if not (self.enabled and on):
            return contextlib.nullcontext()
        return _SpanCtx(self, name, op, pass_no)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op, pass_no):
        self.t, self.name, self.op, self.pass_no = tracer, name, op, pass_no
        self.span: Span | None = None

    def __enter__(self):
        parent = self.t._stack[-1] if self.t._stack else None
        self.span = Span(len(self.t.spans), self.name, time.perf_counter(), 0.0,
                         parent.id if parent else None,
                         self.op if self.op is not None else (parent and parent.op),
                         self.pass_no if self.pass_no is not None
                         else (parent and parent.pass_no))
        self.t.spans.append(self.span)
        self.t._stack.append(self.span)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.perf_counter()
        self.t._stack.pop()
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end))
                             for c in children.get(s.id, ())):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Total and self time per span name."""
    selfs = self_times(spans)
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        row = table.setdefault(s.name, {"total_s": 0.0, "self_s": 0.0, "count": 0})
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.id]
        row["count"] += 1
    return table


def group_stage_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage counters of every job run under
    job group ``group``. Skipped stages (shuffle reuse) count nothing."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_COUNTERS}}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            for key, (getter, scale) in STAGE_COUNTERS.items():
                out[key] += getattr(data, getter)() * scale
    return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def python_node_metrics(jdf) -> dict[str, float]:
    """Sum the Python-node SQL metrics over an executed DataFrame's final
    plan, walking into AQE query stages, reused exchanges and
    subqueries. Timings are normalised to seconds, sizes to MB."""
    totals = {name: 0.0 for name in PYTHON_METRICS.values()}
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            for key, name in PYTHON_METRICS.items():
                opt = metrics.get(key)
                if opt.isEmpty():
                    continue
                m = opt.get()
                kind = m.metricType()
                scale = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}.get(kind, 1.0)
                totals[name] += m.value() * scale
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return totals
