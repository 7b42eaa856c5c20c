"""In-memory spans for the traced run, written out when the run ends.

A span covers one call into a layer (or one Spark job, as a child of
the call that ran it). Self time is a span's duration minus the part of
it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.probes import union_seconds


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is False,
    so untraced runs pay for nothing but the calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            parent=self._stack[-1] if self._stack else None,
            layer=layer,
            name=name,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add_jobs(self, parent: Span, jobs) -> None:
        """Record Spark jobs ``(id, start, end)`` as children of ``parent``."""
        for jid, start, end in jobs:
            self.spans.append(
                Span(
                    id=len(self.spans),
                    parent=parent.id,
                    layer="spark.job",
                    name=f"job {jid}",
                    start=start,
                    end=end,
                )
            )

    def self_time(self, span: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - union_seconds(children, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
                fh,
            )
