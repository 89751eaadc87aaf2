"""Spans around calls into the engine's layers, and their self time.

A span records its name, start, end and parent, and runs under its own
Spark job group so the event log attributes its stages to it
(``eventlog.group_metrics``).  Spans are kept in memory and summarised
when the traced run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = float("nan")
    #: more job groups whose stages belong to the span, e.g. the run id of
    #: a streaming query started inside it
    extra_groups: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; each sets the Spark job group for the calls inside it
    and restores the enclosing span's group when it closes."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._stack: list[int] = []
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(
            name=name,
            group=f"span-{idx}",
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(idx)
        self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self._sc.setJobGroup(outer.group, outer.name)
            else:
                self._sc.setJobGroup("span-none", "untraced")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        inside = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(i, [])
            if e > sp.start and s < sp.end
        ]
        out.append(sp.wall_s - covered(inside))
    return out
