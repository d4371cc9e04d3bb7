"""Spans the benchmark opens around each call into a layer of the engine.

A span records its name, its parent and its start/end on two clocks: the
monotonic clock (durations) and the epoch clock in ms (to line up with
the task times Spark writes into its event log). A span that names a
Spark job group tags every job its thread submits while it is open, so
the event-log fold (``eventlog.fold``) can attribute executor time to
the layer; leaving the span restores the enclosing span's group, or no
group at all.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass(eq=False)  # a span is itself: index() must find this one
class Span:
    name: str
    parent: int | None
    group: str | None
    start: float
    start_ms: int
    end: float = 0.0
    end_ms: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group a span sets; None records spans without tagging jobs."""

    def __init__(self, sc=None, clock=time.monotonic, epoch_ms=None):
        self.sc = sc
        self.clock = clock
        self.epoch_ms = epoch_ms or (lambda: int(time.time() * 1000))
        self.spans: list[Span] = []
        self._open: list[int] = []

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            for key in _GROUP_PROPS:
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(group, desc or group)

    def _group_of(self, idx: int | None) -> str | None:
        while idx is not None:
            if self.spans[idx].group is not None:
                return self.spans[idx].group
            idx = self.spans[idx].parent
        return None

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._open[-1] if self._open else None
        sp = Span(name, parent, group, self.clock(), self.epoch_ms(), attrs=dict(attrs))
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._open.append(idx)
        if group is not None:
            self._set_group(group, name)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            sp.end_ms = self.epoch_ms()
            self._open.pop()
            if group is not None:
                outer = self._group_of(parent)
                self._set_group(outer, outer)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it that its child spans cover
        (children are merged first, so overlapping children count once)."""
        idx = self.spans.index(sp)
        kids = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered
