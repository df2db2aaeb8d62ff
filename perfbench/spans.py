"""Spans around the calls into the program's modules.

The traced run wraps every public function of each measured module of
``omop_dump_to_parquet_spark`` (the layers below) so that a call records
a span: name, layer, operation id, parent span, start and end. Spans
stay in memory; the run folds them into per-layer numbers at the end.
Nothing in the program is edited: the wrappers are installed into the
loaded modules for the traced phase only and removed afterwards.

A layer's self time is the duration of its spans minus the part of
that interval their child spans cover (``self_times``). Spark work is
lazy, so the job a query plans runs inside the harness's ``force`` span,
which the run attributes to the module that registered the query.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

from eventlog import covered

PKG = "omop_dump_to_parquet_spark"

#: layer name -> module. Every public function defined in one of these
#: modules gets a span when called during the traced phase.
LAYERS = {
    "jdbc": f"{PKG}.sources.jdbc",
    "parquet": f"{PKG}.sources.parquet",
    "dump": f"{PKG}.plans.dump",
    "sink": f"{PKG}.sinks.parquet_sink",
    "verify": f"{PKG}.verify",
    "session": f"{PKG}.session",
    "relational": f"{PKG}.operators.relational",
    "windows": f"{PKG}.operators.windows",
    "dedup": f"{PKG}.operators.dedup",
    "similarity": f"{PKG}.operators.similarity",
    "text": f"{PKG}.operators.text",
    "multimodal": f"{PKG}.operators.multimodal",
    "graph": f"{PKG}.operators.graph",
}
OPERATOR_LAYERS = (
    "relational",
    "windows",
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "graph",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span whose interval contains ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


class Tracer:
    """Records spans for one process; ``op`` tags the current operation."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{fn.__name__}", layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Wrap the public functions of every layer module and rebind
        every reference to them held by a loaded package module (so
        ``from ..verify import verify_parquet`` call sites are traced
        too). The wrappers keep the original ``__module__`` and
        ``__qualname__``, so cloudpickle still ships them to Python
        workers by reference. Returns the number of functions wrapped."""
        originals: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == modname
                ):
                    originals[id(fn)] = self._wrap(fn, layer)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for name, value in list(vars(mod).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None:
                    self._patched.append((mod, name, value))
                    setattr(mod, name, wrapper)
        return len(originals)

    def uninstall(self) -> None:
        for mod, name, value in reversed(self._patched):
            setattr(mod, name, value)
        self._patched.clear()
