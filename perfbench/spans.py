"""Spans around calls into the engine's public functions, recorded from
outside the engine.

A span is (id, name, parent id, request id, start, end) plus the Spark
jobs and tasks submitted while it was the innermost open span.  Jobs are
attributed through one Spark job group per span; counts are read from the
status tracker after the listener bus drains, once per top-level span, so
the lookup cost falls between requests, never inside a span.  Spans stay
in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    children: list = field(default_factory=list, repr=False)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Span) -> float:
    """Duration minus the part of it that child spans cover."""
    return span.duration - covered([(c.start, c.end) for c in span.children], span.start, span.end)


class NullTracer:
    """Untraced runs: same call shape, no bookkeeping."""

    request: int | None = None

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.request: int | None = None
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start attributing Spark jobs; call once the context exists."""
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is not None:
            group = f"perfbench-{span.id}" if span else "perfbench-untraced"
            self._sc.setJobGroup(group, span.name if span else "")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.request, 0.0)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)
            if parent is None:
                self._count_jobs(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _count_jobs(self, root: Span) -> None:
        if self._sc is None:
            return
        t0 = self.clock()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        todo = [root]
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                s.jobs += 1
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = tracker.getStageInfo(sid)
                    s.tasks += stage.numCompletedTasks if stage else 0
        self.bookkeeping_s += self.clock() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                del row["children"]
                f.write(json.dumps(row) + "\n")


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace ``owner.attr`` with a traced wrapper for the duration."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def subtree(span: Span):
    yield span
    for c in span.children:
        yield from subtree(c)
