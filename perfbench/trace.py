"""In-memory spans recorded from the benchmark's side of each layer call.

A span has a name, start, end, parent span and pass id. Spans stay in
memory and are written out once, when the run ends. Self time is a
span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.monotonic(), 0.0, parent, self.pass_id)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.monotonic()

    def wrap(self, cls, method: str, name: str):
        """Record a span around every call of ``cls.method``; returns an
        undo function."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name(*a, **kw) if callable(name) else name):
                return orig(*a, **kw)

        setattr(cls, method, traced)
        return lambda: setattr(cls, method, orig)

    def self_times(self) -> dict:
        """name -> total self time over all spans of that name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _covered([(c.start, c.end) for c in children.get(s.id, [])],
                               s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f)


def _covered(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
