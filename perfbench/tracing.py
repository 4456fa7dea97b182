"""In-memory spans recorded from the benchmark's own files.

A span has a name, start and end (wall clock, seconds since the epoch, so
it lines up with Spark's event-log timestamps), its parent span and the
id of the operation (request) it belongs to. Spans stay in memory and are
written out once, when the run ends. With tracing off every call is a
no-op on a shared null object.
"""

from __future__ import annotations

import contextlib
import json
import time


class _NullSpan:
    __slots__ = ()

    def set(self, **attrs) -> None:
        pass


_NULL = _NullSpan()


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid, name, parent, op, start, attrs):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end, self.attrs = start, None, dict(attrs)

    def set(self, **attrs) -> None:
        self.attrs.update(attrs)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent, "op": self.op,
                "start": self.start, "end": self.end, **self.attrs}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None
        self.phase = "setup"

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, spark=None):
        """Span for one operation; tags its Spark jobs with the op id as
        the job group so the event log can attribute them."""
        if not self.enabled:
            yield _NULL
            return
        self._op = op_id
        if spark is not None:
            spark.sparkContext.setJobGroup(op_id, kind)
        try:
            with self.span("op", kind=kind, phase=self.phase) as s:
                yield s
        finally:
            if spark is not None:
                spark.sparkContext.setJobGroup("", "")
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield _NULL
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self._op, time.time(), attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def find(self, name: str, **match) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and s.end is not None
            and all(s.attrs.get(k) == v for k, v in match.items())
        ]

    def ops(self, kind: str, phase: str | None = None) -> list[Span]:
        spans = self.find("op", kind=kind)
        return [s for s in spans if phase is None or s.attrs.get("phase") == phase]

    def children(self, parent: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id and s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s.end is not None:
                    f.write(json.dumps(s.as_dict(), default=str) + "\n")
