"""In-memory spans recorded around the public calls into each layer.

A span is (name, parent index, start, end).  Spans stay in memory and
are summarised when the run ends.  With tracing off, `span()` returns
one shared no-op context, so the untraced run pays one call per layer
boundary and nothing else."""

from __future__ import annotations

import contextlib
import time
from collections.abc import Iterator
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._noop = contextlib.nullcontext()

    def span(self, name: str):
        if not self.enabled:
            return self._noop
        return self._record(name)

    @contextlib.contextmanager
    def _record(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    def parent_name(self, s: Span) -> str | None:
        return None if s.parent is None else self.spans[s.parent].name

    def wrap_method(self, cls: type, attr: str, name_of) -> None:
        """Time every call of `cls.attr` as a span named
        `name_of(*args, **kwargs)`; a no-op with tracing off."""
        if not self.enabled:
            return
        orig = getattr(cls, attr)

        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(cls, attr, traced)

    def total(self, name: str, parent: str | None = "*") -> float:
        """Summed duration of the spans called `name` (whose parent is
        called `parent`, unless parent is "*")."""
        return sum(s.dur for s in self.spans if s.name == name and (
            parent == "*" or self.parent_name(s) == parent))
