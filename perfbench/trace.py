"""Spans and counters recorded from outside the program.

A ``Tracer`` wraps the program's public entry points (module functions
and class methods) so each call becomes a span: name, start, end and the
span that was open when it started.  Spans stay in memory and are written
once, at the end of the run.  An untraced run installs no wrappers at
all, so its timings carry no tracing cost.

Spark job and task counts come from the event log, which the traced run
alone turns on (``eventlog_submit_args``): after the session stops,
``jobs_from_eventlog`` reads each job's start and end and its task
count, and ``attribute_jobs`` charges every job to the spans whose
interval contains its start.  A span's ``driver_s`` is its duration minus
the part of it that some Spark job was running — metadata parsing,
planning and commits on the driver.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    error: str | None = None
    rows: int | None = None
    jobs: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, time.time(), parent=stack[-1] if stack else None)
            self.spans.append(span)
        stack.append(span.sid)
        return span

    def end(self, span: Span, error: BaseException | None = None) -> None:
        span.end = time.time()
        if error is not None:
            span.error = type(error).__name__
        stack = self._stack()
        if stack and stack[-1] == span.sid:
            stack.pop()

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` around every call.  ``counter``, when given, is called
        with the call's arguments just before the span starts and just
        after it ends; the span's ``rows`` is the difference."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = counter(*args, **kwargs) if counter is not None else None
            s = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                tracer.end(s, exc)
                raise
            tracer.end(s)
            if counter is not None:
                s.rows = counter(*args, **kwargs) - before
            return out

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def outermost(self, prefix: str) -> list[Span]:
        """Spans whose name starts with ``prefix`` and that no other such
        span encloses (an op calling another op of its own layer is
        charged once, to the outer op)."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p is not None and not by_id[p].name.startswith(prefix):
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans]}, f)


def eventlog_submit_args(log_dir: str) -> str:
    """spark-submit arguments that turn the event log on for one run."""
    os.makedirs(log_dir, exist_ok=True)
    return (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false"
    )


def jobs_from_eventlog(log_dir: str) -> list[tuple[float, float, int]]:
    """(start_s, end_s, n_tasks) for every job in the event log(s) under
    ``log_dir``; times are epoch seconds like the spans'."""
    starts: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, int] = {}
    out = []
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    starts[jid] = ev["Submission Time"] / 1000.0
                    tasks[jid] = 0
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is not None:
                        tasks[jid] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in starts:
                        out.append((starts[jid], ev["Completion Time"] / 1000.0, tasks[jid]))
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(tracer: Tracer, jobs: list[tuple[float, float, int]]) -> None:
    """Charge each job to every span whose interval contains its start,
    and set each span's job-busy time (the union of its jobs' run time,
    clipped to the span)."""
    for span in tracer.spans:
        mine = [(s, e, n) for s, e, n in jobs if span.start <= s <= span.end]
        span.jobs = len(mine)
        span.tasks = sum(n for _, _, n in mine)
        span.job_busy_s = _union_len([(s, min(e, span.end)) for s, e, _ in mine])
