"""Tracing from outside the engine: spans around calls into its layers, and
Spark's own counters for each operation.

Spans are kept in memory and written out when the run ends. A layer's self
time is its span's duration minus the part of that interval its child spans
cover. Spark counters come from the status tracker (job ids of the
operation's job group) and the status store (per-stage task metrics), both
read after the timed phase so reading them costs the timed phase nothing.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children, clipped to it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        out[s.sid] = (s.end - s.start) - union_length([iv for iv in covered if iv[1] > iv[0]])
    return out


class Tracer:
    """Records spans when enabled; a disabled tracer's ``span`` does nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.hook_seconds = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        span = Span(next(self._ids), name, 0.0, 0.0, parent.sid if parent else None, request)
        stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)
                self.hook_seconds += (span.start - t0) + (time.perf_counter() - span.end)

    def rows(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.sid)]


@dataclass
class Op:
    """One operation run under its own Spark job group."""

    group: str
    kind: str
    request: int | None
    start: float  # epoch seconds, the clock Spark's job times use
    end: float = 0.0


class SparkOps:
    """Gives each operation a job group, then reads its jobs and stages."""

    _groups = itertools.count()  # shared, so two instances never share a group

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[Op] = []
        self._lock = threading.Lock()

    @contextmanager
    def op(self, kind: str, request: int | None = None):
        if not self.tracer.enabled:
            yield None
            return
        t0 = time.perf_counter()
        op = Op(f"perfbench-{next(SparkOps._groups)}", kind, request, 0.0)
        self.sc.setJobGroup(op.group, kind)
        op.start = time.time()
        try:
            yield op
        finally:
            op.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.ops.append(op)
                self.tracer.hook_seconds += (time.perf_counter() - t0) - (op.end - op.start)

    def collect(self) -> list[dict]:
        """Per-op Spark counters; call once the operations have finished."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker, gw = jsc.statusStore(), self.sc.statusTracker(), self.sc._gateway
        no_tasks, no_quantiles = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        out = []
        for op in self.ops:
            row = {"group": op.group, "kind": op.kind, "request": op.request,
                   "start": op.start, "end": op.end, "wall_ms": (op.end - op.start) * 1e3,
                   "jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0.0, "task_cpu_ms": 0.0,
                   "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
                   "spill_bytes": 0, "failed_tasks": 0, "job_intervals": [], "job_rows": []}
            stage_job: dict[int, dict] = {}
            for jid in tracker.getJobIdsForGroup(op.group):
                job = store.job(jid)
                row["jobs"] += 1
                jrow = {"job": jid, "task_run_ms": 0.0, "task_cpu_ms": 0.0}
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    jrow["start"] = job.submissionTime().get().getTime() / 1e3
                    jrow["end"] = job.completionTime().get().getTime() / 1e3
                    row["job_intervals"].append((jrow["start"], jrow["end"]))
                row["job_rows"].append(jrow)
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage_job.setdefault(int(it.next()), jrow)
            for sid, jrow in sorted(stage_job.items()):
                seq = store.stageData(sid, False, no_tasks, False, no_quantiles)
                if seq.size() == 0:
                    continue
                sd = seq.apply(seq.size() - 1)
                if sd.status().toString() == "SKIPPED":
                    continue
                row["stages"] += 1
                row["tasks"] += sd.numTasks()
                jrow["task_run_ms"] += sd.executorRunTime()
                jrow["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                row["shuffle_read_bytes"] += sd.shuffleReadBytes()
                row["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                row["input_bytes"] += sd.inputBytes()
                row["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                row["failed_tasks"] += sd.numFailedTasks()
            row["task_run_ms"] = sum(j["task_run_ms"] for j in row["job_rows"])
            row["task_cpu_ms"] = sum(j["task_cpu_ms"] for j in row["job_rows"])
            clipped = [(max(s, op.start), min(e, op.end)) for s, e in row["job_intervals"]]
            row["job_wall_ms"] = union_length([c for c in clipped if c[1] > c[0]]) * 1e3
            row["driver_gap_ms"] = row["wall_ms"] - row["job_wall_ms"]
            out.append(row)
        return out
