"""In-memory spans around calls into the program's public functions.

A :class:`Tracer` rebinds module attributes inside the benchmark process
only, so every call through the rebound name made while a run is open
records a span (name, start, end, parent, run id, thread). Outside a run a
rebound function calls straight through and records nothing, so untraced
executions in the same process pay no tracing. Calls made on a thread with
no open span get the current run's root span as parent, which ties the
stage work the pipeline's thread pools do back to the execution that
caused it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """A span under the open run; outside a run, records nothing."""
        if self._root is None:
            yield None
            return
        with self._open(name) as s:
            yield s

    @contextmanager
    def _open(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.id if parent else None,
                 self._root.run if self._root else "",
                 threading.current_thread().name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def run(self, run_id: str):
        """Root span of one execution; spans opened on other threads while
        it is open become its children."""
        with self._open("run") as root:
            root.run = run_id
            self._root = root
            try:
                yield root
            finally:
                self._root = None

    def wrap(self, owner, attr: str, name) -> None:
        """Rebind ``owner.attr`` so each call inside a run records a span.
        ``name`` is a string or a function of the call's arguments returning
        one."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_static = isinstance(original, staticmethod)
        fn = original.__func__ if is_static else original

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._root is None:
                return fn(*args, **kwargs)
            label = name if isinstance(name, str) else name(*args, **kwargs)
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, staticmethod(traced) if is_static else traced)

    def in_run(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run == run_id]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
