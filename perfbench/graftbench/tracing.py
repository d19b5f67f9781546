"""Spans around calls into the package's layer modules, recorded from
the benchmark's own code: the package is not edited.

`Tracer.install()` replaces every public function of each layer
module with a wrapper, and also every attribute elsewhere in the
package that is bound to the same function object: a caller that did
`from .fs import listdir`, or `keyed_table` calling its by-name
import of `operators.merge.keyed_upsert`, resolves its own binding,
so both must be patched. A wrapper records a span only while the
tracer is enabled; disabled, it calls straight through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from dataclasses import dataclass

PKG = "howto_mongo_bulk_update_from_parquet_spark"

# layer name -> modules whose public functions are that layer
LAYERS = {
    "sources": ["sources"],
    "operators": ["operators"],
    "plans": [],          # catalog queries: spanned at the call site
    "keyed_table": ["sinks.keyed_table"],
    "zonemap": ["sinks.zonemap"],
    "sql_merge": ["sinks.sql_merge"],
    "fs": ["sinks.fs"],
    "streaming": ["streaming"],
}


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _modules_of(dotted: str) -> list:
    mod = importlib.import_module(f"{PKG}.{dotted}")
    if not hasattr(mod, "__path__"):
        return [mod]
    out = [mod]
    for info in pkgutil.iter_modules(mod.__path__):
        try:
            out.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
        except ImportError:      # a module gated on an absent dependency
            continue
    return out


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op_id = -1
        self._stack: list[Span] = []
        self._installed: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def begin(self, layer: str, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), parent, self.op_id, layer, name,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()

    # -- patching ------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.begin(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)
        wrapper.__graftbench_wrapped__ = True
        return wrapper

    def install(self) -> int:
        """Wrap every public function of the layer modules; returns the
        number of bindings patched."""
        targets: dict[int, tuple[object, str, str]] = {}
        for layer, dotted_list in LAYERS.items():
            for dotted in dotted_list:
                for mod in _modules_of(dotted):
                    short = mod.__name__.rsplit(".", 1)[-1]
                    for name, fn in vars(mod).items():
                        if (name.startswith("_") or not inspect.isfunction(fn)
                                or fn.__module__ != mod.__name__
                                or getattr(fn, "__graftbench_wrapped__", False)):
                            continue
                        targets[id(fn)] = (fn, layer, f"{short}.{name}")
        wrappers = {k: self._wrap(fn, layer, name)
                    for k, (fn, layer, name) in targets.items()}
        for mod in [m for n, m in list(sys.modules.items())
                    if n == PKG or n.startswith(PKG + ".")]:
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and targets[id(val)][0] is val:
                    self._installed.append((mod, attr, val))
                    setattr(mod, attr, w)
        return len(self._installed)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._installed):
            setattr(mod, attr, val)
        self._installed.clear()

    # -- analysis ------------------------------------------------------
    def self_times(self) -> list[tuple[Span, float]]:
        """(span, self time): duration minus the time its direct
        children cover (calls are synchronous, so children of one
        span never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return [(s, s.dur - child[s.span_id]) for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "span": s.span_id, "parent": s.parent, "op": s.op_id,
                    "layer": s.layer, "name": s.name,
                    "start": round(s.start, 6), "end": round(s.end, 6)}))
                fh.write("\n")
