"""Span tracing from the benchmark's side of each layer boundary.

The benchmark wraps public functions of the program's modules at run time
(no program code changes). A span is (id, name, start, end, parent, run id);
spans are kept in memory and written out when the run ends. Self time is a
span's duration minus the part of it that child spans cover.

The Spark driver process is the only client, and a streaming ``foreachBatch`` callback runs
while the main thread blocks on the query, so one process-wide span stack
gives the right parent for every span.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Records spans while ``on``; always records the wall time of calls to
    the names in ``timed`` (the commit-latency samples the untraced run
    needs)."""

    def __init__(self, run_id: str, timed: set[str] | None = None):
        self.run_id = run_id
        self.on = False
        self.timed = set(timed or ())
        self.calls: dict[str, list[tuple[float, float]]] = {}
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            t0 = time.time()
            try:
                yield
            finally:
                if name in self.timed:
                    self.calls.setdefault(name, []).append((t0, time.time()))
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            sp = Span(sid, name, time.time(), 0.0, parent, self.run_id)
            self.spans.append(sp)
            self._stack.append(sid)
        try:
            yield
        finally:
            sp.end = time.time()
            with self._lock:
                self._stack.remove(sid)
            if name in self.timed:
                self.calls.setdefault(name, []).append((sp.start, sp.end))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = owner.__dict__[attr]
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, staticmethod(wrapper) if isinstance(orig, staticmethod) else wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def layer_self_time(self, sp: Span, kids: dict, layer: str) -> float:
        """``sp``'s duration minus the time covered by its nearest
        descendants that belong to another layer (name prefix)."""
        other: list[tuple[float, float]] = []
        todo = list(kids.get(sp.id, []))
        while todo:
            c = todo.pop()
            if c.name.startswith(layer + "."):
                todo += kids.get(c.id, [])
            else:
                other.append((c.start, c.end))
        return (sp.end - sp.start) - covered(other, sp.start, sp.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
