"""Spans recorded from the benchmark's own files around calls into each
layer of the program.

A span is (name, start, end, parent, entry).  Spans are kept in memory
and analysed after the run.  Each span also runs its calls under its own
Spark job group, ``pb<span id>``, so the event log ties every job and
stage to the span that submitted it.

Wrapping happens from outside: module functions and methods are
replaced by timing wrappers for the length of a traced run and put back
afterwards.  Names bound by ``from module import name`` elsewhere in the
package are rebound too, so every caller reaches the wrapper.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    entry: int | None
    phase: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.

    Children are clipped to the parent's interval; overlapping children
    (a callback thread's span during the main thread's wait) count once.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [(max(s, sp.start), min(e, sp.end)) for s, e in kids.get(sp.id, ())]
        out[sp.id] = sp.dur - union_length([c for c in clipped if c[1] > c[0]])
    return out


class Tracer:
    """Collects spans; one instance per traced run.

    The main thread's open spans form the ambient stack: a span opened
    on another thread with no open span of its own (a foreachBatch
    callback while the main thread waits in ``processAllAvailable``)
    nests under the main thread's innermost span.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.entry: int | None = None  # current entry execution id
        self.phase: str | None = None  # build | plan | exec
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_id = threading.get_ident()
        self._main_stack: list[tuple[int, str]] = []
        self._local.stack = self._main_stack
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> int | None:
        st = self._stack() or self._main_stack
        return st[-1][0] if st else None

    def inside(self, name: str) -> bool:
        return any(n == name for _, n in self._stack())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        sp = Span(sid, name, 0.0, 0.0, self._parent(), self.entry, self.phase, dict(attrs))
        if threading.get_ident() != self._main_id:
            sp.attrs["callback"] = True
        stack = self._stack()
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        stack.append((sid, name))
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, entry: int | None, parent: int | None) -> Span:
        """Record a build-phase span measured elsewhere (a streaming micro-batch)."""
        sp = Span(next(self._ids), name, start, end, parent, entry, "build")
        with self._lock:
            self.spans.append(sp)
        return sp

    # -- wrapping ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None, nested: bool = True) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.

        ``nested=False`` records only the outermost of nested calls of
        one name (``first`` calls ``head`` calls ``take`` calls
        ``collect``: one driver action).  ``on_result(span, args, out)``
        may add attributes once the call returns.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or (not nested and tracer.inside(name)):
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))
        if isinstance(owner, type(sys)):  # module function: rebind copies
            for mod in list(sys.modules.values()):
                if mod is owner or not (getattr(mod, "__name__", "") or "").startswith("qpmodel_spark"):
                    continue
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
