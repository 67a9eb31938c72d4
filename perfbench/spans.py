"""Spans around the package's public entry points, tagged with Spark job
groups so the event log attributes every job to the span that ran it.

A span records its name, start, end and parent. While it is open, its
id is the thread's Spark job group; the parent's group is restored when
it closes, so each job belongs to the innermost open span. Spans are
kept in memory and reduced after the run.

With tracing off, :meth:`Tracer.wrap` returns the function unchanged and
:meth:`Tracer.span` does nothing, so untraced runs pay no cost.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.span_id}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @staticmethod
    def _set_group(span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn: Callable[..., Any]) -> Callable[..., Any]:
        """``fn`` run inside a span; integer counters of a dict result are
        kept on the span."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    sp.counters.update(
                        {k: v for k, v in out.items() if isinstance(v, int)}
                    )
                return out

        return traced

    @contextmanager
    def patched(self, module, attr: str, name: str):
        """Trace ``module.attr`` (as span ``name``) while the block runs:
        for a function the package calls through its own module namespace."""
        original = getattr(module, attr)
        setattr(module, attr, self.wrap(name, original))
        try:
            yield
        finally:
            setattr(module, attr, original)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def descendants_groups(self, span: Span) -> set[str]:
        out = {span.group}
        for c in self.children(span):
            out |= self.descendants_groups(c)
        return out

    def self_s(self, span: Span) -> float:
        return (span.end - span.start) - sum(c.end - c.start for c in self.children(span))
