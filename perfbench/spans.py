"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``Patcher`` swaps a
layer's public function for a wrapper that opens a span around the
call, and puts the original back when the run ends. Spans stay in
memory and are written once, at exit. ``on_switch`` is called with the
innermost open span id whenever it changes; the harness uses it to tag
Spark jobs (a local property), so the event log attributes task time
to spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class SpanRecorder:
    def __init__(self, run_id: str, on_switch: Callable[[int | None], None] | None = None):
        self.run_id = run_id
        self.on_switch = on_switch
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, 0.0, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        if self.on_switch:
            self.on_switch(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.on_switch:
                self.on_switch(self._stack[-1] if self._stack else None)

    def wrap(self, fn: Callable, name: str | Callable[..., str]) -> Callable:
        """``fn`` inside a span; ``name`` may derive the span name from
        the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class Patcher:
    """Attribute patching with restore. ``replace_function`` rebinds
    every name in the package's modules that refers to the original
    function, so ``from x import f`` aliases are traced too."""

    def __init__(self, package: str):
        self.package = package
        self._undo: list[tuple[object, str, object]] = []

    def _set(self, owner: object, attr: str, value: object) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def replace_function(self, original: Callable, wrapper: Callable) -> int:
        hits = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == self.package or modname.startswith(self.package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, attr, wrapper)
                    hits += 1
        return hits

    def replace_method(self, cls: type, attr: str, make: Callable[[Callable], Callable]) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, staticmethod):
            self._set(cls, attr, staticmethod(make(raw.__func__)))
        else:
            self._set(cls, attr, make(raw))

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def children(spans: list[Span], parent: int) -> list[Span]:
    return [s for s in spans if s.parent == parent]


def self_time(spans: list[Span], span: Span) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in children(spans, span.id)]
    return span.wall - union_length(kids, span.start, span.end)


def coverage(spans: list[Span], root: Span) -> float:
    """Share of ``root``'s wall covered by its child spans."""
    if root.wall <= 0:
        return 0.0
    kids = [(c.start, c.end) for c in children(spans, root.id)]
    return union_length(kids, root.start, root.end) / root.wall


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span below it (spans are appended in
    start order, so a parent always precedes its children)."""
    out = {root}
    for s in spans:
        if s.parent in out:
            out.add(s.id)
    return out


def outermost(spans: list[Span], name: str, within: set[int]) -> list[Span]:
    """Spans called ``name`` inside ``within`` that have no ancestor of
    the same name (so recursion is not counted twice)."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name or s.id not in within:
            continue
        p = s.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out
