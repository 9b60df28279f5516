"""In-memory spans recorded by the benchmark around its calls into the
library, with Spark jobs attributed to spans through job groups the
benchmark sets itself.

With tracing off, ``Tracer.span`` is a no-op context manager: no job
group is set and nothing is recorded, so untraced timings carry no
tracing cost. With tracing on, ``Tracer.overhead_s`` accumulates the
time spent in tracing code inside the timed operations: the difference
between a traced and an untraced operation, measured directly.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator

from .stats import interval_union


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    #: filled after the span ends, from the Spark status store
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context=None, enabled: bool = False, run_tag: str = "pb") -> None:
        self.sc = spark_context
        self.enabled = enabled
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def overhead(self) -> Iterator[None]:
        """Count the enclosed work as tracing overhead: work done only
        because tracing is on."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, op_id: int) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans),
            name=name,
            op_id=op_id,
            parent=parent.sid if parent else None,
            start=0.0,
            group=f"{self.run_tag}-{len(self.spans)}",
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self.overhead():
                self._stack.pop()
                if self.sc is not None:
                    if parent is not None:
                        self.sc.setJobGroup(parent.group, parent.name)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                        self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        rows = [{**asdict(s), "self_s": self_time(s, self.children(s))} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it covered by its children
    (overlapping children count once)."""
    covered = interval_union([(c.start, c.end) for c in children], span.start, span.end)
    return span.wall - covered
