"""Span tracing for the traced benchmark run.

The tracer wraps public functions of the engine's layers at run time
(nothing inside the package changes), records one span per call — name,
start, end, parent span, operation id — keeps the spans in memory and
writes them out when the run ends. Spark jobs, stages and tasks are
attributed to operations afterwards by time window, from the status store.

Spans named ``trace.*`` are the tracer's own extra work (counting the
rows of a lazily returned frame); their time is removed from the
operation's wall time and the Spark jobs they launch are not attributed
to the operation.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass
from types import ModuleType

OVERHEAD_PREFIX = "trace."


@dataclass
class Span:
    name: str
    start: float  # time.perf_counter() seconds
    end: float
    parent: int | None  # index of the parent span; None for an op root
    op: int | None  # operation id


@dataclass
class Patch:
    sites: list[tuple[object, str]]
    original: object
    wrapper: object


class Tracer:
    """In-memory span recorder plus the function patches that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.recording = False
        # perf_counter -> epoch seconds, to line spans up with Spark's
        # status-store timestamps (same host clock, ms resolution)
        self.epoch_offset = time.time() - time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._root: int | None = None
        self._op_stack: list[int] | None = None
        self._patches: list[Patch] = []
        # (op id, counter name) -> summed value
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, parent: int | None) -> int:
        with self._lock:
            self.spans.append(
                Span(name, time.perf_counter(), float("nan"), parent, self._op)
            )
            return len(self.spans) - 1

    @contextlib.contextmanager
    def operation(self, op_id: int, kind: str):
        """Root span of one benchmark operation. A span another thread
        opens while it is active, outside a span of that thread, hangs
        under the innermost span the operation's thread has open (a
        foreachBatch sink runs on a callback thread while the operation
        waits for its trigger)."""
        if not self.recording:
            yield
            return
        self._op = op_id
        self._op_stack = self._stack()
        self._root = self._open(f"op.{kind}", None)
        try:
            yield
        finally:
            self.spans[self._root].end = time.perf_counter()
            self._op = self._root = self._op_stack = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            try:
                parent = self._op_stack[-1]
            except (TypeError, IndexError):  # no operation, or none of its spans open
                parent = self._root
        idx = self._open(name, parent)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    # ---------------------------------------------------------- patches
    def wrap_function(self, name: str, owner: object, attr: str, package: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in a
        span named ``name``. For a module function every module of
        ``package`` that imported the same object by name is patched too."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._add(owner, attr, original, wrapper, package)

    def wrap_counted(
        self, name: str, owner: object, attr: str, package: str, counter: str
    ) -> None:
        """Like :meth:`wrap_function` for a function returning a lazy
        DataFrame: the rows are counted afterwards in an overhead span
        ``trace.<counter>.count`` whose time and jobs are excluded."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = original(*args, **kwargs)
            with tracer.span(f"{OVERHEAD_PREFIX}{counter}.count"):
                tracer.add_count(counter, out.count())
            return out

        self._add(owner, attr, original, wrapper, package)

    def wrap_lock(self, owner: ModuleType, attr: str, package: str,
                  wait: str, hold: str) -> None:
        """Wrap a lock factory used as ``with factory(key):`` so the time to
        acquire and the time held are separate spans."""
        original = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with tracer.span(wait):
                    stack.enter_context(original(*args, **kwargs))
                with tracer.span(hold):
                    yield

        self._add(owner, attr, original, wrapper, package)

    def _add(self, owner, attr, original, wrapper, package) -> None:
        sites = [(owner, attr)]
        if isinstance(owner, ModuleType):
            for mod in list(sys.modules.values()):
                mod_name = getattr(mod, "__name__", "") or ""
                if mod is owner or not mod_name.startswith(package):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        sites.append((mod, key))
        self._patches.append(Patch(sites, original, wrapper))

    def install(self) -> None:
        for p in self._patches:
            for owner, attr in p.sites:
                setattr(owner, attr, p.wrapper)
        self.recording = True

    def uninstall(self) -> None:
        for p in self._patches:
            for owner, attr in p.sites:
                setattr(owner, attr, p.original)
        self.recording = False

    # --------------------------------------------------------- counters
    def add_count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the current operation."""
        with self._lock:
            self.counts[(self._op, name)] += value

    def dump(self, path: str) -> None:
        """Write every span and counter as JSON."""
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "epoch_offset": self.epoch_offset,
                    "spans": [asdict(s) for s in self.spans],
                    "counts": [
                        {"op": op, "name": name, "value": value}
                        for (op, name), value in self.counts.items()
                    ],
                },
                f,
            )
