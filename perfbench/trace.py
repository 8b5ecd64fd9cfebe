"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent): the benchmark opens one around
each call it makes into a program layer, so the tree shows which public
call of which module a stretch of wall time belongs to. Spans stay in
memory and are written out once, when the run ends. With tracing off,
``span`` still times the block (callers need the duration either way) but
records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "start", "end")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = start

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_time(self, sp: Span) -> float:
        """Duration of `sp` minus the time its direct children cover."""
        return sp.seconds - sum(c.seconds for c in self.spans if c.parent == sp.id)

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start - self._origin, 6),
                "end": round(s.end - self._origin, 6),
                "self": round(self.self_time(s), 6),
            }
            for s in self.spans
        ]
