"""Spans around calls into the package's layers, recorded from outside it.

A :class:`Tracer` keeps every span (name, start, end, thread, parent) in
memory.  While a span is open on a thread, that thread's Spark job group
is the span name, so Spark's event log can attribute each job (and the
executor CPU, Python-worker time, shuffle, spill and output bytes of its
tasks) to the innermost open span.  :meth:`Tracer.wrap` installs a span
around an attribute of a module or class and :meth:`Tracer.uninstall`
restores every original, so one process can run traced and untraced
operations side by side.

The arithmetic is kept free of Spark so it can be tested on synthetic
spans:

* :func:`self_times` -- a span's duration minus the part of its interval
  its children cover;
* :func:`critical_path` -- per-span time on the critical path of one root
  span.  A child span on the root's thread is charged its whole duration.
  The rest of the root interval is time the root thread spent outside its
  own children; where a top-level span on another thread was running
  then, the root thread was waiting on it and that time is charged to it
  (split evenly when several ran).  What is left is ``UNATTRIBUTED``.  Each
  instant of the root interval is charged once, so the charges sum to
  the root's duration and an overlapped worker span counts only for the
  time the root thread actually waited on it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    thread: str
    parent: int | None  # index into Tracer.spans

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._sc = spark_context
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        prev_group = None
        if self._sc is not None:
            prev_group = self._sc.getLocalProperty(JOB_GROUP)
            self._sc.setLocalProperty(JOB_GROUP, name)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(
                    name,
                    time.perf_counter(),
                    None,
                    threading.current_thread().name,
                    stack[-1] if stack else None,
                )
            )
        stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_GROUP, prev_group)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` (a module or class attribute) by
        ``make(original_function)`` until :meth:`uninstall`."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        new = functools.wraps(fn)(make(fn))
        setattr(owner, attr, kind(new) if kind else new)
        self._patches.append((owner, attr, raw))

    def wrap(self, owner, attr: str, name) -> None:
        """Open a span around every call of ``owner.attr``.  ``name`` is the
        span name, or a function of the call's arguments that returns it."""

        def make(fn):
            def traced(*args, **kwargs):
                label = name(*args, **kwargs) if callable(name) else name
                with self.span(label):
                    return fn(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time, as a JSON list."""
        rows = [
            {**asdict(s), "self_s": t} for s, t in zip(self.spans, self_times(self.spans))
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def _union(intervals):
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def _covered(a: float, b: float, intervals) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in _union(intervals))


def self_times(spans: list[Span]) -> list[float]:
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.end is not None:
            children[s.parent].append((s.start, s.end))
    return [
        s.duration - _covered(s.start, s.end or s.start, children[i])
        for i, s in enumerate(spans)
    ]


def critical_path(spans: list[Span], root: int) -> dict[str, float]:
    """Critical-path seconds per span name inside ``spans[root]``; the
    values (including ``UNATTRIBUTED``) sum to the root's duration."""
    r = spans[root]
    own, others = [], []
    for i, s in enumerate(spans):
        if i == root or s.end is None or s.end <= r.start or s.start >= r.end:
            continue
        if s.thread == r.thread:
            if s.parent == root:
                own.append(s)
        elif s.parent is None:
            others.append(s)
    out: dict[str, float] = defaultdict(float)
    for s in own:
        out[s.name] += min(s.end, r.end) - max(s.start, r.start)
    # Elementary intervals of the root's own idle time, each charged to the
    # spans on other threads that were running through it.
    idle, cursor = [], r.start
    for a, b in _union((max(s.start, r.start), min(s.end, r.end)) for s in own):
        if a > cursor:
            idle.append((cursor, a))
        cursor = max(cursor, b)
    if cursor < r.end:
        idle.append((cursor, r.end))
    cuts = sorted({t for s in others for t in (s.start, s.end)})
    for a, b in idle:
        points = [a] + [t for t in cuts if a < t < b] + [b]
        for x, y in zip(points, points[1:]):
            running = [s for s in others if s.start <= x and s.end >= y]
            if running:
                for s in running:
                    out[s.name] += (y - x) / len(running)
            else:
                out[UNATTRIBUTED] += y - x
    return dict(out)
