"""In-memory spans and the layer wrappers the traced run installs.

A span records a name, start, end, parent span and run id. Spans are
kept in a list and written out once, when the benchmark ends. Layer
wrappers time calls into the package's public functions from outside:
they replace module attributes at run time and leave the package's
files alone.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager


class Tracer:
    """Nested spans for one benchmark invocation. With ``enabled``
    false every span is a no-op, so the untraced path pays nothing but
    a branch."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        rec = {"run": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans
    cover (the union of the children's intervals)."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for k in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            if cur_end is None or k["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = k["start"], k["end"]
            else:
                cur_end = max(cur_end, k["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = duration(s) - covered
    return out


def _wrap(tracer: Tracer, layer: str, name: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer=layer):
            return fn(*args, **kwargs)

    traced.__wrapped_by_perfbench__ = True
    return traced


def install(tracer: Tracer, module, layer: str) -> None:
    """Wrap every public function defined in ``module`` with a span of
    ``layer``. Loaded ``cpx_etl_spark`` modules that imported a wrapped
    function by name get the wrapper too."""
    originals = {}
    for name, obj in vars(module).items():
        if (not name.startswith("_") and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
                and not getattr(obj, "__wrapped_by_perfbench__", False)):
            originals[id(obj)] = (name, obj)
    wrapped = {key: _wrap(tracer, layer, f"{module.__name__}.{name}", fn)
               for key, (name, fn) in originals.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("cpx_etl_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped and originals[id(obj)][1] is obj:
                setattr(mod, attr, wrapped[id(obj)])
