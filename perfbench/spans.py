"""Spans around calls into the library's layers, recorded from outside it.

``Tracer.install`` replaces each public function of the traced modules
with a wrapper, in every already-imported ``spark_fuse_spark`` module
that holds a reference to it.  It must run before
``spark_fuse_spark.catalog`` is imported: catalog modules bind operator
names at import (``from ..operators.graph import dedup_clusters``), and
calls inside a traced module go through its module globals, so nested
calls (``dedup_clusters`` -> ``connected_components``) become child spans.

A span is ``(id, name, layer, start, end, parent, op, group)``; spans are
kept in memory and written once, by ``dump``.  Once ``sc`` is set, each
span also runs its Spark jobs under its own job group, so jobs can be
attributed to the innermost span that fired them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

# module -> layer name used in metric names
TRACED_MODULES = {
    "spark_fuse_spark.tables": "tables",
    "spark_fuse_spark.operators.graph": "graph",
    "spark_fuse_spark.operators.dedup": "dedup",
    "spark_fuse_spark.ai.embeddings": "ai",
    "spark_fuse_spark.ai.mapping": "ai",
    "spark_fuse_spark.ai.rerank": "ai",
    "spark_fuse_spark.cdc.deletes": "cdc",
    "spark_fuse_spark.cdc.scd": "cdc",
    "spark_fuse_spark.cdc.diff": "cdc",
    "spark_fuse_spark.operators.layout": "layout",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: "int | None"
    op: "str | None"
    group: "str | None"


class Hook:
    """Work done around a traced call, outside its span: ``before`` returns
    a state that ``after`` receives with the call's result."""

    def before(self, tracer: "Tracer", args) -> object:
        return None

    def after(self, tracer: "Tracer", state, args, result) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: "list[Span]" = []
        self.enabled = False
        self.op: "str | None" = None
        self.sc = None  # SparkContext whose job group each span sets
        self._stack: "list[Span]" = []
        self._groups: "list[str | None]" = [None]
        self.hooks: "dict[str, Hook]" = {}  # by qualified function name

    # -- job groups -----------------------------------------------------
    def push_group(self, group: "str | None") -> None:
        self._groups.append(group)
        if self.sc is not None and group is not None:
            self.sc.setJobGroup(group, group)

    def pop_group(self) -> None:
        self._groups.pop()
        if self.sc is not None:
            prev = self._groups[-1]
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    # -- spans ----------------------------------------------------------
    def step(self, group: str, name: str, layer: str, fn, arg):
        """One op step of the benchmark: ``fn(arg)`` under job group
        ``group``, as a span when tracing is enabled."""
        self.push_group(group)
        try:
            return self.call(name, layer, fn, (arg,), {})
        finally:
            self.pop_group()

    def call(self, name: str, layer: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        hook = self.hooks.get(name)
        state = hook.before(self, args) if hook is not None else None
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, layer, time.perf_counter(), 0.0, parent, self.op, None)
        if self.sc is not None:
            span.group = f"span-{span.id}"
        self.spans.append(span)
        self._stack.append(span)
        self.push_group(span.group)
        try:
            result = fn(*args, **kwargs)
        finally:
            self.pop_group()
            self._stack.pop()
            span.end = time.perf_counter()
        if hook is not None:
            hook.after(self, state, args, result)
        return result

    def inside(self, layers: "set[str]") -> bool:
        """Whether an open span belongs to one of ``layers``."""
        return any(s.layer in layers for s in self._stack)

    def install(self) -> "list[str]":
        """Wrap every public function of ``TRACED_MODULES``; returns the
        qualified names wrapped."""
        if "spark_fuse_spark.catalog" in sys.modules:
            raise RuntimeError("install the tracer before spark_fuse_spark.catalog is imported")
        originals: dict[int, tuple[str, object]] = {}
        for mod_name, layer in TRACED_MODULES.items():
            mod = importlib.import_module(mod_name)
            for attr in getattr(mod, "__all__", []):
                fn = getattr(mod, attr, None)
                if inspect.isfunction(fn) and fn.__module__ == mod_name:
                    originals[id(fn)] = (f"{layer}.{attr}", self._wrap(f"{layer}.{attr}", layer, fn))
        # rebind in every loaded package module (defining module and re-exports)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("spark_fuse_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None:
                    setattr(mod, attr, hit[1])
        return sorted(name for name, _ in originals.values())

    def _wrap(self, name: str, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, layer, fn, args, kwargs)

        return traced

    # -- analysis -------------------------------------------------------
    def self_times(self, spans: "list[Span]") -> "dict[str, float]":
        """Seconds per layer of span duration not covered by child spans."""
        child_cover: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_cover.get(s.id, 0.0)
        return out

    def subtree(self, span: Span) -> "list[Span]":
        """``span`` and all spans nested inside it."""
        ids = {span.id}
        out = [span]
        for s in self.spans[span.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
