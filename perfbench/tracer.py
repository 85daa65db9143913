"""Spans around calls into the library's public functions.

The tracer wraps functions from outside the library: every module-level
binding of a target function across the loaded ``prague_spark.*``
modules is replaced by a timing wrapper (so ``from .x import f`` copies
made at import time are covered too, and call-time imports see the
patched module attribute), and class methods are patched on every class
that defines them. Spans are kept in memory; ``uninstall`` restores the
original bindings, so untraced passes run the library untouched.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` [(start, end)], optionally
    clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children may overlap when they ran in threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - union_length(children.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    _stacks: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _main: int = field(default_factory=threading.get_ident)

    def open(self, name: str) -> int:
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        if stack:
            parent = stack[-1]
        else:
            # a thread-pool worker: parent is the innermost span open on
            # the thread that drives the workload
            main = self._stacks.get(self._main) or [None]
            parent = main[-1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), parent=parent))
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stacks[threading.get_ident()]
        if stack and stack[-1] == idx:
            stack.pop()
        elif idx in stack:
            stack.remove(idx)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.idx)
        return False


@dataclass(frozen=True)
class Target:
    """One public function (or, with ``cls_attr``, a method name on every
    class of ``module`` that defines it) to span as ``name``. ``lazy``
    marks functions that return an unexecuted DataFrame: their span times
    plan construction only and is named ``<name>.build``. ``on_result``
    turns the return value into counters."""
    module: str
    attr: str
    name: str
    lazy: bool = False
    method: bool = False
    on_result: object = None


def _wrap(tracer: Tracer, fn, target: Target):
    span_name = target.name + (".build" if target.lazy else "")

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = tracer.open(span_name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.close(idx)
        if target.on_result is not None:
            target.on_result(tracer, result)
        return result

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


class Patches:
    """Installed wrappers; ``uninstall`` puts every original back."""

    def __init__(self):
        self._applied: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, new) -> None:
        self._applied.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._applied):
            setattr(owner, attr, old)
        self._applied.clear()


def install(tracer: Tracer, targets, package: str = "prague_spark") -> Patches:
    patches = Patches()
    modules = {t.module: importlib.import_module(t.module) for t in targets}
    loaded = [m for n, m in list(sys.modules.items())
              if m is not None and (n == package or n.startswith(package + "."))]
    for t in targets:
        mod = modules[t.module]
        if t.method:
            for obj in list(vars(mod).values()):
                if (isinstance(obj, type) and obj.__module__ == mod.__name__
                        and t.attr in obj.__dict__):
                    patches.set(obj, t.attr,
                                _wrap(tracer, obj.__dict__[t.attr], t))
            continue
        original = getattr(mod, t.attr)
        wrapper = _wrap(tracer, original, t)
        for m in loaded:
            for key, val in list(vars(m).items()):
                if val is original:
                    patches.set(m, key, wrapper)
    return patches
