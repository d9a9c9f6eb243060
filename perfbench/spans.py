"""Spans for the traced run, recorded from outside the library.

The tracer wraps the public functions of each layer module in place
(``sources``, ``dataframe``, ``operators``/``pipeline``, ``cache``,
``sinks``) for the length of a traced pass and restores them afterwards, so
untraced passes run the library untouched.  Spans stay in memory; the
runner writes them out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    parent: int | None
    trace_id: str          # shared by every span of one (pass, operation)
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans on one thread.  The runner sets ``trace_id``
    per (pass, operation) and ``count_jobs`` (Spark jobs so far in that
    operation's job group), which is read at loader boundaries."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.trace_id = ""
        self.count_jobs = lambda: 0

    def begin(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), parent, self.trace_id, name, layer,
                 time.perf_counter())
        if layer == "sources" and not any(x.layer == "sources" for x in self._stack):
            # jobs of the outermost loader call (a loader calling another
            # loader is one call)
            s.attrs["jobs_before"] = self.count_jobs()
        elif layer == "sinks":
            s.attrs["t_wall"] = time.time()
        self._stack.append(s)
        self.spans.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        if "jobs_before" in s.attrs:
            s.attrs["jobs"] = self.count_jobs() - s.attrs.pop("jobs_before")
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, fn, name: str, layer: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                if after is not None:
                    after(s, args, kwargs)
                self.end(s)
        return wrapper


def _public_functions(module):
    for name, obj in vars(module).items():
        if (not name.startswith("_") and inspect.isfunction(obj)
                and obj.__module__ == module.__name__):
            yield name, obj


def layer_targets():
    """``(owner, attribute, layer)`` for every public call the tracer
    wraps.  Names re-bound in other modules by ``from ... import`` (the
    suite imports ``load_parquet``) are wrapped there too."""
    import pkgutil

    import elusion_spark
    import elusion_spark.cache as cache
    import elusion_spark.operators as ops_pkg
    import elusion_spark.pipeline as pipeline
    import elusion_spark.sinks.writers as writers
    import elusion_spark.sources.loaders as loaders
    import elusion_spark.suite as suite
    from elusion_spark.dataframe import CustomDataFrame

    out = [(CustomDataFrame, "to_spark", "dataframe"),
           (CustomDataFrame, "elusion", "dataframe")]
    for name, _fn in _public_functions(loaders):
        out.append((loaders, name, "sources"))
        for mod in (suite, elusion_spark):
            if getattr(mod, name, None) is getattr(loaders, name):
                out.append((mod, name, "sources"))
    out.append((cache, "cached_elusion", "cache"))
    for name, _fn in _public_functions(writers):
        out.append((writers, name, "sinks"))
    op_modules = [pipeline] + [
        __import__(f"elusion_spark.operators.{m.name}", fromlist=["_"])
        for m in pkgutil.iter_modules(ops_pkg.__path__)]
    for mod in op_modules:
        for name, _fn in _public_functions(mod):
            out.append((mod, name, "operators"))
    return out


class Installed:
    """Wraps every layer target for the duration of a ``with`` block."""

    def __init__(self, tracer: Tracer, targets, after_sink=None):
        self.tracer, self.targets, self.after_sink = tracer, targets, after_sink
        self.saved: list = []

    def __enter__(self):
        for owner, attr, layer in self.targets:
            orig = inspect.getattr_static(owner, attr)
            after = self.after_sink if layer == "sinks" else None
            label = f"{getattr(owner, '__name__', owner)}.{attr}"
            setattr(owner, attr, self.tracer.wrap(orig, label, layer, after))
            self.saved.append((owner, attr, orig))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        self.saved.clear()
        return False


# ------------------------------------------------------------- arithmetic

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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
    """A span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.span_id: (s.end - s.start) - union_length(
        [(c.start, c.end) for c in children.get(s.span_id, ())])
        for s in spans}


def layer_time(spans: list[Span], layer: str) -> float:
    """Wall time inside calls of ``layer`` (nested calls of the same layer
    counted once)."""
    return union_length([(s.start, s.end) for s in spans if s.layer == layer])
