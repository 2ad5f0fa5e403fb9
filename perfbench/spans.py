"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from outside the program: ``install`` replaces a
package function *where callers look it up* (a module attribute) with a
wrapper that opens a span around the call. Each span also sets the Spark
job group to ``<op>|<span name>``, so every Spark job started inside it is
attributed to the innermost open span, and the counters read afterwards
from Spark's status store can be split by layer.

Spans stay in memory until the run ends; ``self_times`` computes each
span's duration minus the part of it covered by its children.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None  # index into Tracer.spans
    op: str
    info: dict = field(default_factory=dict)  # counts recorded at the boundary

    @property
    def group(self) -> str:
        return f"{self.op}|{self.name}"


class Tracer:
    """Records nested spans for one thread; optionally tags Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc  # pyspark SparkContext, or None to skip job groups
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = "setup"
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), None, parent, self.op)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def wrap(self, name: str, fn, after=None):
        """``fn`` wrapped in a span; ``after(span, args, kwargs)`` runs once
        the span has closed, so its cost is not charged to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                after(s, args, kwargs)
            return out

        return wrapper

    def install(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a traced wrapper (undone by ``uninstall``)."""
        self.patch(module, attr, self.wrap(name, getattr(module, attr), after))

    def patch(self, module, attr: str, replacement) -> None:
        """Set ``module.attr`` to ``replacement`` until ``uninstall``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def uninstall(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def groups(self, op: str) -> dict[str, str]:
        """job group -> span name, for every span of ``op``."""
        return {s.group: s.name for s in self.spans if s.op == op}


def self_times(spans: list[Span], offset: int = 0) -> list[float]:
    """Each span's duration minus the union of its children's intervals.

    ``spans`` may be a tail slice of the tracer's list starting at index
    ``offset``; parent indices refer to the full list."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.parent >= offset:
            children.setdefault(s.parent - offset, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out.append((s.end - s.start) - covered)
    return out
