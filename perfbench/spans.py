"""In-memory spans around the calls into each layer.

The benchmark wraps public functions where the calling module looks
them up (``plans.pipeline.read_dsv``, for example), so the program is
traced without being edited. Each span records its name, start, end and
parent; spans stay in memory until the run writes them out.

Self time is a span's duration minus the part of it its child spans
cover; over a whole tree the self times add up to the root's duration.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans of one thread; ``open``/``close`` nest through a
    stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        # tolerate an exception unwinding several levels at once
        while self._stack and self._stack.pop() != idx:
            pass

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    def wrap(self, module: str, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper until
        :meth:`unwrap_all`."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(span_name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        self._undo.append((mod, attr, fn))
        setattr(mod, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            mod, attr, fn = self._undo.pop()
            setattr(mod, attr, fn)

    def to_records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Per span: duration minus the union of its children's intervals,
    each child clipped to the parent's window."""
    out = []
    for s in spans:
        kids = [
            (max(spans[c].start, s.start), min(spans[c].end, s.end))
            for c in s.children
        ]
        out.append(s.duration - _covered([k for k in kids if k[1] > k[0]]))
    return out


def innermost(spans: list[Span], t: float) -> int | None:
    """Index of the deepest span whose window contains instant ``t``."""
    best, best_depth = None, -1
    for i, s in enumerate(spans):
        if s.start <= t <= s.end:
            depth, p = 0, s.parent
            while p is not None:
                depth, p = depth + 1, spans[p].parent
            if depth > best_depth:
                best, best_depth = i, depth
    return best


def outermost_of_name(spans: list[Span]) -> list[int]:
    """Spans with no ancestor of the same name, so inclusive sums per
    name never count a nested (re-entrant) call twice."""
    keep = []
    for i, s in enumerate(spans):
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            keep.append(i)
    return keep


def is_within(spans: list[Span], i: int, ancestor: int) -> bool:
    while i is not None:
        if i == ancestor:
            return True
        i = spans[i].parent
    return False
