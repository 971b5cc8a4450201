"""In-memory span tracer that wraps public engine functions from outside.

The traced pass swaps wrappers onto module attributes (`patched`), so every
call the engine makes through those attributes records a span with its
parent; nothing in the engine changes. Spans stay in memory and are written
out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int  # id of the root span of this call tree

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, start=self.clock(), end=float("nan"),
            parent=parent.id if parent else None,
            trace=parent.trace if parent else len(self.spans),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Swap a span-recording wrapper onto each (owner, attribute, span
        name) for the duration of the block, restoring the originals after."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """A span's duration minus the part of it its children cover."""
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp)
        ]
        return sp.wall - covered([k for k in kids if k[1] > k[0]])

    def in_trace(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.trace == root.trace]

    def self_totals(self, spans: list[Span]) -> dict[str, float]:
        """Summed self time per span name over `spans`."""
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
