"""In-memory spans recorded around calls into the program's modules.

A span has a name, start, end, parent and trace id (one per batch or
query).  Spans are kept in memory and written out once, at the end of a
traced run, together with each layer's self time: a span's duration
minus the part of it its direct children cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else name
        s = Span(next(self._ids), name, trace_id, parent.span_id if parent else None, time.time())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a ``name`` span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@contextlib.contextmanager
def patched(module, attr: str, tracer: Tracer, name: str):
    """Trace every call the program makes to ``module.attr`` for the
    duration of the block (the program looks the name up at call time)."""
    original = getattr(module, attr)
    setattr(module, attr, tracer.wrap(name, original))
    try:
        yield
    finally:
        setattr(module, attr, original)


def span(tracer: Tracer | None, name: str, trace_id: str | None = None):
    """``tracer.span(...)``, or nothing at all in an untraced run."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, trace_id)
