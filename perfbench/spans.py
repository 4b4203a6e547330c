"""In-memory span tracing around the program's layer boundaries.

Spans are recorded from the benchmark's own files: either around a call
the benchmark makes itself (``with tracer.span(...)``), or by rebinding a
layer's public function to a wrapper while tracing is installed. Nothing
in the program changes; uninstall() restores every rebinding.

A counted span also reads Spark's job and stage id watermarks at its
start and end, so job, stage, task, shuffle and spill counts can be
attributed to it afterwards from the JVM status store.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    marks: tuple[int, int, int, int] | None = None  # job0, stage0, job1, stage1

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.marks[2] - self.marks[0] if self.marks else 0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover.

    Children may overlap (spans from a thread pool); overlap counts once."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Records spans while enabled; a disabled tracer's span() is a no-op."""

    def __init__(self, run_id: str, marks=None):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._marks = marks  # () -> (next job id, next stage id)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, count: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stacks.setdefault(threading.get_ident(), [])
        # a pool thread's first span hangs under the main thread's innermost one
        anchor = stack or self._stacks.get(self._main) or [None]
        parent = anchor[-1].sid if anchor[-1] is not None else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, self.run_id, 0.0)
            self.spans.append(sp)
        m0 = self._marks() if count and self._marks else None
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if m0 is not None:
                sp.marks = (*m0, *self._marks())

    def wrap(self, fn, name, count: bool = False):
        """fn wrapped in a span; name is a string or a callable of fn's args."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name, count):
                return fn(*args, **kwargs)

        return traced

    def replace(self, owner, attr: str, new) -> None:
        """Set owner.attr to new until uninstall()."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, new)

    def patch(self, owner, attr: str, name, count: bool = False) -> None:
        """Rebind owner.attr to a traced wrapper until uninstall()."""
        self.replace(owner, attr, self.wrap(getattr(owner, attr), name, count))

    def patch_function(self, fn, name: str) -> None:
        """Rebind every reference to fn held by a loaded meteor_spark module."""
        wrapped = self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("meteor_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.enabled = False

    # ---------------------------------------------------------- queries

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def named(self, name: str, spans: list[Span] | None = None) -> list[Span]:
        return [s for s in (self.spans if spans is None else spans) if s.name == name]

    def busy(self, name: str, spans: list[Span]) -> float:
        """Summed duration of `name` spans not nested inside another `name` span."""
        by_id = {s.sid: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.name == name:
                    return True
                p = by_id.get(p.parent)
            return False

        return sum(s.duration for s in spans if s.name == name and not nested(s))


# ---------------------------------------------------------- layer patches


def public_functions(module) -> list:
    return [
        v
        for k, v in vars(module).items()
        if not k.startswith("_") and callable(v) and getattr(v, "__module__", None) == module.__name__
        and not isinstance(v, type)
    ]


def install_layers(tracer: Tracer, sink_bytes: dict) -> None:
    """Rebind the public entry points of every traced layer.

    sink_bytes collects, per sink span name, the size on disk of what the
    sink wrote (the file or directory at its configured path)."""
    from meteor_spark import registry
    from meteor_spark import io as msio
    from meteor_spark.operators import dedup, graph, profile, retrieval, text
    from meteor_spark.runner.agent import Agent
    from meteor_spark.sinks.file import FileSink
    from meteor_spark.sources.parquet_catalog import ParquetCatalogExtractor
    from meteor_spark.streaming import pipeline, stateful

    tracer.patch(Agent, "run", "runner.run", count=True)
    tracer.patch(ParquetCatalogExtractor, "extract", "sources.extract", count=True)
    patched: set[type] = set()
    for info in registry.processors.list():
        cls = type(registry.processors.get(info.name))
        if "process" in cls.__dict__ and cls not in patched:
            patched.add(cls)
            tracer.patch(cls, "process", f"processors.{info.name}.build", count=True)

    orig_sink = FileSink.sink

    def traced_sink(self, df):
        name = f"sinks.{sink_label(self.config)}"
        with tracer.span(f"{name}.write", count=True):
            written = orig_sink(self, df)
        sink_bytes[name] = sink_bytes.get(name, 0) + disk_bytes(self.config["path"])
        return written

    tracer.replace(FileSink, "sink", traced_sink)

    tracer.patch_function(profile.profile_columns, "operators.profile")
    for mod, layer in (
        (text, "operators.text"),
        (dedup, "operators.dedup"),
        (graph, "operators.graph"),
        (retrieval, "operators.retrieval"),
        (pipeline, "streaming"),
        (stateful, "streaming"),
        (msio, "io"),
    ):
        for fn in public_functions(mod):
            tracer.patch_function(fn, layer)
    tracer.enabled = True


def sink_label(config: dict) -> str:
    """file_ndjson, file_json (distributed), file_yaml or file_parquet."""
    fmt = config.get("format", "json")
    if fmt in ("json", "ndjson"):
        fmt = "json" if config.get("distributed") else "ndjson"
    return f"file_{fmt}"


def disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
