"""In-memory spans recorded around calls into the program's layers.

A traced run patches public functions of the program (module attributes
and public methods) with wrappers that open a span. Each span carries a
name, start, end and parent, and sets its own Spark job group, so the
Spark status tracker tells which jobs, tasks and failed tasks the span
launched itself. Nothing is patched in an untraced run.

Spark is lazy: a span around a function that only builds a plan measures
planning, and the jobs run in the span of whichever action forces the
plan.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans
    cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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


def inclusive(spans: list[Span], attr: str) -> dict[int, int]:
    """Span id -> ``attr`` summed over the span and all its descendants."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.id not in depth:
            p = by_id.get(s.parent)
            depth[s.id] = 0 if p is None else depth_of(p) + 1
        return depth[s.id]

    total = {s.id: getattr(s, attr) for s in spans}
    # deepest first, so a child's total is complete before it is added
    for s in sorted(spans, key=depth_of, reverse=True):
        if s.parent in by_id:
            total[s.parent] += total[s.id]
    return total


class Tracer:
    """Collects spans from any number of client threads."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            start=time.perf_counter(),
        )
        s.group = f"perfbench-{s.id}"
        self._sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + value

    def patch(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a
        span named ``name``. ``on_call(span, args, kwargs, result, exc)``
        may record attributes once the call has returned or raised."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                try:
                    result = original(*args, **kwargs)
                except Exception as exc:
                    if on_call:
                        on_call(s, args, kwargs, None, exc)
                    raise
                if on_call:
                    on_call(s, args, kwargs, result, None)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def resolve_spark_counts(self, settle_s: float = 5.0) -> None:
        """Fill each span's job / task / failed-task counts from the
        status tracker. Listener events arrive asynchronously, so poll
        until no job of ours is still reported as running."""
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + settle_s
        while True:
            pending = False
            for s in self.spans:
                s.jobs = s.tasks = s.failed_tasks = 0
                for job_id in tracker.getJobIdsForGroup(s.group):
                    job = tracker.getJobInfo(job_id)
                    if job is None:
                        continue
                    if job.status not in ("SUCCEEDED", "FAILED"):
                        pending = True
                    s.jobs += 1
                    for stage_id in job.stageIds:
                        stage = tracker.getStageInfo(stage_id)
                        if stage is not None:
                            s.tasks += stage.numCompletedTasks
                            s.failed_tasks += stage.numFailedTasks
            if not pending or time.monotonic() > deadline:
                return
            time.sleep(0.2)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self=selfs[s.id]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "counters": self.counters}, fh)
