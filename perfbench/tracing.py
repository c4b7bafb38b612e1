"""Tracing for the benchmark's traced run.

Spans are recorded around calls into the program's public functions by
wrapping them from here; the library itself is not changed. Each span
runs its Spark jobs under its own job group, so jobs, stages and tasks are
attributed to the span (``sc.statusTracker()``) and, through the job
group property, to the executor metrics of the Spark event log.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0
    items: int | None = None  # length of a list result, e.g. resolved paths
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    max_stage_tasks: int = 0


class Tracer:
    """In-memory span recorder. ``span`` opens a span, the root one for a
    benchmark operation; ``wrap`` makes a module function record a span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{span.op_id}/{span.span_id}"

    def _enter(self, name: str, op_id: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), name, op_id, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), name)
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        span.jobs = sorted(tracker.getJobIdsForGroup(self._group(span)))
        for job_id in span.jobs:
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                span.stages += 1
                span.tasks += stage.numTasks
                span.max_stage_tasks = max(span.max_stage_tasks, stage.numTasks)

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Record a span; without ``op_id`` it belongs to the enclosing one."""
        if op_id is None:
            op_id = self._stack[-1].op_id if self._stack else "setup"
        span = self._enter(name, op_id)
        try:
            yield span
        finally:
            self._exit(span)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                result = fn(*args, **kwargs)
                if isinstance(result, list):
                    span.items = len(result)
                return result

        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.span_id: (s.end - s.start) - child[s.span_id] for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class OpExec:
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def action_s(self) -> float:
        """Wall time with at least one job running (union of job spans)."""
        total, cur_end = 0, None
        for a, b in sorted(self.intervals):
            if cur_end is None or a > cur_end:
                total += b - a
                cur_end = b
            elif b > cur_end:
                total += b - cur_end
                cur_end = b
        return total / 1000

    def task_skew(self) -> float:
        """Longest task over the median task, worst stage with >= 2 tasks."""
        ratios = [
            max(d) / max(statistics.median(d), 1)
            for d in self.stage_task_ms.values()
            if len(d) >= 2
        ]
        return max(ratios, default=1.0)


def parse_event_log(log_dir: str) -> dict[str, OpExec]:
    """Executor metrics per operation id, from every event log in ``log_dir``."""
    job_op: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_op: dict[int, str] = {}
    ops: dict[str, OpExec] = defaultdict(OpExec)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    op = group.split("/", 1)[0]
                    job_op[ev["Job ID"]] = op
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", ()):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
                    ops[job_op[ev["Job ID"]]].intervals.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"])
                    )
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_op:
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    o = ops[stage_op[ev["Stage ID"]]]
                    o.run_ms += m.get("Executor Run Time", 0)
                    o.cpu_ns += m.get("Executor CPU Time", 0)
                    o.gc_ms += m.get("JVM GC Time", 0)
                    o.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    o.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    o.stage_task_ms[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    return ops
