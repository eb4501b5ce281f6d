"""Spans, counters and the Spark event-log parser of the traced run.

A span records name, start, end, parent and run id around one of the
benchmark's calls into a layer. Spans and counters stay in memory and
are written once, at exit. With tracing off every method is a no-op
and :meth:`Tracer.wrap` returns the callable unchanged, so the untraced
run executes exactly the library calls and nothing else.

Spark jobs are attributed to the innermost span whose time window
contains the job's submission time. The benchmark is a closed loop with
one client, so windows nest and never interleave.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # set by the caller so spans opened on Spark's callback threads
        # (foreachBatch) hang under the span that started the query
        self.default_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.default_parent
        s = Span(next(self._ids), parent, name, time.time(), attrs=attrs)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name`` (``fn`` itself when
        tracing is off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def run(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return run

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = {"run": self.run_id, **s.__dict__}
                fh.write(json.dumps(rec, default=str) + "\n")
            fh.write(json.dumps({"run": self.run_id, "counters": self.counters}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its
    children cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids[s.id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = max(0.0, s.dur - covered)
    return out


# --- Spark event log ---------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0  # executor run time
    cpu_s: float = 0.0  # executor JVM CPU time
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0

    @property
    def python_gap_s(self) -> float:
        """Task time not spent on JVM CPU: Python/Arrow workers, plus
        any I/O wait."""
        return max(0.0, self.run_s - self.cpu_s)


def parse_event_log(lines) -> list[Job]:
    """Jobs with their task metrics summed, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000)
            job.stages = set(ev.get("Stage IDs", []))
            for sid in job.stages:
                stage_job[sid] = job
            jobs[job.id] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job.tasks += 1
            job.run_s += tm.get("Executor Run Time", 0) / 1e3
            job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            job.gc_s += tm.get("JVM GC Time", 0) / 1e3
            job.input_mb += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
            job.shuffle_write_mb += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / 2**20
            )
    return sorted(jobs.values(), key=lambda j: j.submit)


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs of every application that logged under ``log_dir``; rolled
    logs (one directory per application) are read in roll order."""
    jobs: list[Job] = []
    for base, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names, key=_roll_index):
            if name.startswith("appstatus"):
                continue  # rolled-log status marker, no events
            with open(os.path.join(base, name)) as fh:
                jobs.extend(parse_event_log(fh))
    return jobs


def _roll_index(name: str) -> tuple[int, str]:
    # rolled files are named events_<n>_<app id>
    parts = name.split("_")
    return (int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0, name)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Span id → jobs submitted inside it and inside none of its
    children (the innermost enclosing span wins)."""
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        best = None
        for s in spans:
            if s.start <= job.submit <= s.end and (best is None or s.dur < best.dur):
                best = s
        if best is not None:
            out[best.id].append(job)
    return out


EXEC_FIELDS = (
    "task_run_s",
    "jvm_cpu_s",
    "gc_s",
    "python_gap_s",
    "input_mb",
    "shuffle_write_mb",
    "jobs",
    "stages",
    "tasks",
    "driver_residual_s",
)


def exec_summary(jobs: list[Job], wall_s: float) -> dict[str, float]:
    """The ``exec.*`` row for a set of jobs that ran inside ``wall_s``
    seconds of spans. ``driver_residual_s`` is the wall time no job was
    running: Python build, planning, scheduling and driver work."""
    busy, cur_a, cur_b = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j.submit):
        a, b = j.submit, max(j.end, j.submit)
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return {
        "task_run_s": sum(j.run_s for j in jobs),
        "jvm_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "python_gap_s": sum(j.python_gap_s for j in jobs),
        "input_mb": sum(j.input_mb for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write_mb for j in jobs),
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "driver_residual_s": max(0.0, wall_s - busy),
    }


def jobs_under(span_id: int, spans: list[Span], by_span: dict[int, list[Job]]):
    """Jobs attributed to ``span_id`` or any of its descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.extend(by_span.get(sid, []))
        todo.extend(kids[sid])
    return out
