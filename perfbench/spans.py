"""Span tracer for the traced benchmark run.

The tracer wraps public functions of the engine's modules from the
outside (no change to the engine): each wrapped call records a span
``(name, start, end, parent, op)`` in memory, and the runner writes
them out at the end.  Names imported into other modules with
``from ..io import read_table`` are wrapped where they were imported
too, so every call site goes through the wrapper.

A span's *self time* is its duration minus the parts its child spans
cover; per-layer time metrics are sums of self time, so the layers of
one operation partition its wall time.

Each thread keeps its own span stack.  A span opened on a thread with
no open span of its own (an engine thread pool, for example
``SnapshotSet.stage`` calls overlapped by the curation-store build)
has no parent: concurrent spans never nest into one another, and their
time is not subtracted from the span that started the pool.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time
import types
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None
        self.bookkeeping_s = 0.0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, **attrs) -> int:
        stack = self._stack()
        span = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                    op=self.op, attrs=attrs)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        s = self.spans[idx]
        s.end = time.perf_counter()
        self._stack().remove(idx)
        if s.parent is not None:
            # The parent is open on this same thread, so no other
            # thread updates it.
            self.spans[s.parent].children_s += s.end - s.start

    def add_bookkeeping(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s += seconds

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    # -- wrapping ------------------------------------------------------------
    def _set(self, owner: object, attr: str, value: object) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_fn(self, fn, name: str, around=None):
        """A span-recording wrapper of ``fn``.  If ``around`` is given
        it is called as ``around(span, call, args)`` and must return
        the call's result; it can add attributes to the span (bytes
        written, fragment fill)."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            idx = tracer.begin(name)
            tracer.add_bookkeeping(time.perf_counter() - t0)
            try:
                if around is None:
                    return fn(*args, **kwargs)
                return around(tracer.spans[idx], lambda: fn(*args, **kwargs), args)
            finally:
                t1 = time.perf_counter()
                tracer.end(idx)
                tracer.add_bookkeeping(time.perf_counter() - t1)

        return wrapper

    def wrap(self, owner: object, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` by ``wrap_fn`` of it.  For a module
        attribute, also rebind the name in every engine module that
        imported it (``from ..io import read_table``)."""
        fn = getattr(owner, attr)
        wrapper = self.wrap_fn(fn, name, around)
        self._set(owner, attr, wrapper)
        if isinstance(owner, types.ModuleType):
            for mod in list(sys.modules.values()):
                if (mod is not owner and getattr(mod, "__name__", "").startswith(PACKAGE)
                        and getattr(mod, attr, None) is fn):
                    self._set(mod, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    # -- export --------------------------------------------------------------
    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op": s.op, "self_s": round(s.self_s, 6),
             **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


PACKAGE = "mvp_mini_etl_pipeline_1762840347_spark"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def install(tracer: Tracer) -> None:
    """Wrap the engine layers the per-layer metrics are built from:
    ``io``, ``plans.fragments``, ``operators.table_format`` and
    ``pipeline``.  (``session.get_spark`` and the query functions are
    timed by the runner, which calls them.)"""
    from mvp_mini_etl_pipeline_1762840347_spark import io
    from mvp_mini_etl_pipeline_1762840347_spark.operators import table_format
    from mvp_mini_etl_pipeline_1762840347_spark.pipeline import runner, sinks
    from mvp_mini_etl_pipeline_1762840347_spark.plans import fragments

    tracer.wrap(io, "read_table", "io.read_table")
    tracer.wrap(io, "read_events", "io.read_events")

    def fragment(span, call, _args):
        misses = fragments._STATS["misses"]
        out = call()
        span.attrs["fill"] = fragments._STATS["misses"] > misses
        return out

    tracer.wrap(fragments, "cached_frame", "fragments.cached_frame", fragment)

    def written(subdir):
        def around(span, call, args):
            # Bytes the call adds under the directory it writes to;
            # nested table_format calls are covered by the outermost
            # one.  The directory walks are wrapper cost: kept out of
            # the span's self time and added to the bookkeeping.
            if span.parent is not None and \
                    tracer.spans[span.parent].name.startswith("table_format."):
                return call()
            path = subdir(args)
            t0 = time.perf_counter()
            before = dir_bytes(path)
            walk = time.perf_counter() - t0
            out = call()
            t1 = time.perf_counter()
            span.attrs["bytes"] = dir_bytes(path) - before
            walk += time.perf_counter() - t1
            span.children_s += walk
            tracer.add_bookkeeping(walk)
            return out
        return around

    def table_root(args):
        return args[0].root

    def member_root(args):
        # SnapshotSet.stage(self, name, df) writes only under root/name,
        # so stages overlapped from a thread pool are measured apart.
        return os.path.join(args[0].root, args[1])

    for cls, meth, subdir in (
            (table_format.SnapshotTable, "commit", table_root),
            (table_format.SnapshotTable, "merge", table_root),
            (table_format.SnapshotTable, "read", None),
            (table_format.SnapshotSet, "stage", member_root),
            (table_format.SnapshotSet, "commit_staged", table_root),
            (table_format.SnapshotSet, "read", None)):
        tracer.wrap(cls, meth, f"table_format.{cls.__name__}.{meth}",
                    written(subdir) if subdir else None)

    tracer.wrap(runner, "build_metrics", "pipeline.transform")
    tracer.wrap(runner, "write_csv", "pipeline.load_csv")
    tracer.wrap(sinks, "write_json", "pipeline.load_json")
