"""Span tracing for the traced benchmark run.

Spans are recorded around the public functions of each layer by replacing
module attributes from outside the package: every module of the engine
(and ``__spark_entry__``) that holds a reference to a traced function gets
the wrapper in its place, so ``from .schemas import load_table`` call sites
are traced as well as ``sinks.append_snapshot``-style ones. Spans stay in
memory; the run summarizes them when it ends.

Spark jobs are attributed to spans by job-id window (the scheduler's next
job id read at span start and end), not by job group: some operators submit
jobs from ``ThreadPoolExecutor`` threads, which a job group does not follow.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans. ``next_job_id`` returns the id the scheduler will give
    the next Spark job (a constant function when Spark is not involved)."""

    def __init__(self, next_job_id=lambda: 0, clock=time.perf_counter):
        self.spans: list[Span] = []
        self.next_job_id = next_job_id
        self.clock = clock
        self.op_id = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        job = self.next_job_id()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                # A span opened on a worker thread (a foreachBatch callback,
                # an executor pool) nests under whatever the main thread is
                # running at that moment.
                parent = self._main_stack[-1] if self._main_stack else None
            idx = len(self.spans)
            self.spans.append(
                Span(name, layer, self.op_id, parent, self.clock(), job)
            )
            if parent is not None:
                self.spans[parent].children.append(idx)
            stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.job_hi = self.next_job_id()
        span.end = self.clock()
        with self._lock:
            self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield idx
        finally:
            self.close(idx)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        traced.__wrapped_by_tracer__ = True
        return traced

    # -- accounting ---------------------------------------------------------

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return (s.end - s.start) - _covered(kids, s.start, s.end)

    def jobs(self, idx: int) -> set[int]:
        s = self.spans[idx]
        return set(range(s.job_lo, s.job_hi))

    def self_jobs(self, idx: int) -> set[int]:
        own = self.jobs(idx)
        for c in self.spans[idx].children:
            own -= self.jobs(c)
        return own

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], list(self.spans[idx].children)
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(self.spans[c].children)
        return out

    def roots(self) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent is None]


class Patcher:
    """Replaces function attributes in every loaded module of the engine
    and restores them on ``undo``."""

    PREFIXES = ("data_lakehouse_hygiene_spark", "__spark_entry__")

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def _modules(self):
        for name, mod in list(sys.modules.items()):
            if mod is not None and name.startswith(self.PREFIXES):
                yield mod

    def replace(self, fn, wrapper) -> int:
        """Point every module attribute that is ``fn`` at ``wrapper``."""
        n = 0
        for mod in self._modules():
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def replace_attr(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def undo(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)


def public_functions(mod) -> dict[str, object]:
    """Functions defined in ``mod`` whose names do not start with ``_``,
    except column-expression helpers (annotated to return a Column), which
    only assemble expressions and are called once per column."""
    return {
        name: fn
        for name, fn in vars(mod).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == mod.__name__
        and "Column" not in str(fn.__annotations__.get("return", ""))
    }


def install(tracer: Tracer, patcher: Patcher, layers: dict[str, object]) -> int:
    """Wrap every public function of each ``layer -> module`` pair; the
    span is named ``<layer>.<function>``. Returns the number of
    attributes replaced."""
    n = 0
    for layer, mod in layers.items():
        for name, fn in public_functions(mod).items():
            if getattr(fn, "__wrapped_by_tracer__", False):
                continue
            n += patcher.replace(fn, tracer.wrap(fn, f"{layer}.{name}", layer))
    return n
