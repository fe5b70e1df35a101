"""In-memory spans around the package's public functions.

The tracer patches module and class attributes at run time, so the
package's own files stay untouched. Each span runs its Spark jobs under a
job group of its own, set on entry and restored to the parent's on exit,
so a job counts to the innermost span that was open when it ran.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

from eventlog import GroupStats

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise wrapped calls pass
    straight through."""

    def __init__(self, sc, run_id: str, clock=time.perf_counter):
        self.sc = sc
        self.run_id = run_id
        self.clock = clock
        self.enabled = True
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, group)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, parent.id if parent else None,
                 f"{self.run_id}-{sid}", attrs=attrs)
        self._set_group(s.group)
        self._stack.append(s)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            self.spans.append(s)

    @contextlib.contextmanager
    def paused(self):
        """Run harness work inside the traced region without spans."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, layer: str, *, before=None, after=None):
        """Replace ``owner.attr`` by a version that runs inside a ``layer``
        span. ``before(args, kwargs)`` runs ahead of the span and its value
        goes to ``after(span, state, args, kwargs, result)``, which runs
        once the span has closed, so neither is counted in the layer."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with self.span(layer) as s:
                out = orig(*args, **kwargs)
            if after:
                after(s, state, args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's wall minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


def inclusive_stats(spans: list[Span],
                    by_group: dict[str | None, GroupStats]) -> dict[int, GroupStats]:
    """Event-log totals of each span plus all its descendants."""
    out = {s.id: GroupStats() for s in spans}
    parent = {s.id: s.parent for s in spans}
    for s in spans:
        own = by_group.get(s.group)
        node = s.id
        while own is not None and node is not None:
            out[node].add(own)
            node = parent.get(node)
    return out


def layer_totals(spans: list[Span], stats: dict[int, GroupStats]) -> dict[str, dict]:
    """Per layer name: calls, wall_s, self_s, and the inclusive event-log
    totals. A span nested inside a span of the same layer is skipped so
    its time is not counted twice."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)

    def nested_in_same(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return True
            p = by_id[p].parent
        return False

    out: dict[str, dict] = {}
    for s in spans:
        if nested_in_same(s):
            continue
        t = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                    "stats": GroupStats()})
        t["calls"] += 1
        t["wall_s"] += s.wall
        t["self_s"] += selfs[s.id]
        t["stats"].add(stats.get(s.id, GroupStats()))
    return out
