"""Spans recorded from the benchmark's side of each layer boundary.

A span is opened around a call into one of the package's public functions
(by wrapping it for the traced run; nothing is added inside the package).
While a span is open, every Spark job the client thread submits carries
the span as its job description and in the local property
``perfbench.span`` ("<name>#<id>"), so stage costs parsed from the event
log can be attributed to it afterwards. The op being timed is carried in
``perfbench.op``.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    t0: float
    t1: float | None = None
    op: str | None = None

    @property
    def duration(self) -> float:
        return (self.t1 if self.t1 is not None else self.t0) - self.t0


class Tracer:
    """Records nested spans of one client thread, in memory. ``sc`` (a
    SparkContext) is optional so the span logic runs without Spark."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: dict[tuple[str | None, str], float] = {}
        self.enabled = True
        self._stack: list[Span] = []
        self._op: str | None = None

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        tag = f"{span.name}#{span.id}" if span else None
        self.sc.setLocalProperty(SPAN_PROP, tag)
        self.sc.setJobDescription(tag)

    def set_op(self, op: str | None) -> None:
        self._op = op
        if self.sc is not None:
            self.sc.setLocalProperty(OP_PROP, op)

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the current op."""
        key = (self._op, name)
        self.counts[key] = self.counts.get(key, 0) + value

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.id if parent else None,
                 self.clock(), op=self._op)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.t1 = self.clock()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name, undo: list) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``name`` is a span name, or a callable of the call's arguments that
        returns one (``None`` = no span). The original goes on ``undo``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            if n is None:
                return orig(*args, **kwargs)
            with tracer.span(n):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        undo.append((owner, attr, orig))


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
    undo.clear()


def caller_name(depth: int = 2) -> str:
    """Function name ``depth`` frames up (1 = the caller of the caller)."""
    return sys._getframe(depth + 1).f_code.co_name


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.t1 is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    out = {}
    for s in spans:
        if s.t1 is None:
            continue
        clipped = [(max(a, s.t0), min(b, s.t1)) for a, b in kids.get(s.id, [])]
        out[s.id] = s.duration - covered(clipped)
    return out


def total_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed duration per span name. A span nested in a span of the same
    name (a re-entrant wrapper) is not counted again."""
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s.t1 is None:
            continue
        p = s.parent
        while p is not None and by_id[p].name != s.name:
            p = by_id[p].parent
        if p is None:
            out[s.name] = out.get(s.name, 0.0) + s.duration
    return out
