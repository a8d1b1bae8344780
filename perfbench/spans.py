"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark around its own calls into each
layer (session, engine, job actions, sinks, queries). Each span has a
name, start, end, the id of the span open when it started, and the
operation it belongs to. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Iterator


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs: Any) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.id if parent else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def named(self, name: str, op: int | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (op is None or s.op == op)]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        covered = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
