"""In-memory spans around the engine's layers, and their self times.

A span is one call across a layer boundary: its name, layer, start and
end (``time.perf_counter`` seconds), the span that caused it, and the
pass and query it ran in. While a span is open its id is the Spark
local property ``perfbench.span``, so every Spark job records the
innermost span that submitted it; ``eventlog`` maps jobs back to spans.

Spans are recorded from the benchmark's side: ``install`` wraps the
public functions of each layer module (and ``DataFrame.localCheckpoint``
/ ``checkpoint``) in place and ``Installed.restore`` puts the originals
back. The engine's code is not edited.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
PACKAGE = "pagerank_mapreduce_implementation_spark"

#: Layer of each instrumented module. ``sources.catalog`` splits into a
#: read and a write layer by function name; ``functions.wiki`` is
#: represented by its one operation, ``parse_pages`` (its other public
#: functions only build Column expressions inside it).
LAYER_MODULES = {
    "sources.catalog": None,
    "functions.wiki": ("parse_pages",),
    "operators.graph": None,
    "plans.iterative": None,
    "operators.text": None,
    "programs": None,
}

#: Spans of this layer carry no layer of their own: their time and jobs
#: count toward the nearest enclosing span that has one.
ATTRIBUTED = None


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    pass_id: int | None
    query: str | None
    start: float
    end: float = float("nan")

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory; ``set_property`` tags Spark jobs."""

    set_property: Callable[[str], None] = lambda _value: None
    clock: Callable[[], float] = time.perf_counter
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    pass_id: int | None = None
    query: str | None = None

    @contextmanager
    def span(self, name: str, layer: str | None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            pass_id=self.pass_id,
            query=self.query,
            start=self.clock(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.set_property(str(s.id))
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self.set_property(str(parent.id) if parent else "")

    def wrap(self, fn: Callable, name: str, layer: str | None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def layer_parent(spans: list[Span], span: Span) -> Span | None:
    """The nearest span at or above ``span`` that has a layer."""
    cur: Span | None = span
    while cur is not None and cur.layer is ATTRIBUTED:
        cur = spans[cur.parent] if cur.parent is not None else None
    return cur


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span with a layer: its duration minus the part
    of it covered by the child spans that have a layer. A span without
    a layer (a checkpoint) is transparent: its time stays with the
    enclosing span and its own children count as that span's children.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.layer is ATTRIBUTED or s.parent is None:
            continue
        owner = layer_parent(spans, spans[s.parent])
        if owner is not None:
            children.setdefault(owner.id, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
        if s.layer is not ATTRIBUTED
    }


def _layer_of(module_name: str, fn_name: str) -> str:
    if module_name == "sources.catalog":
        return "sources.write" if fn_name.startswith("write") else "sources.read"
    return module_name


@dataclass
class Installed:
    """The replaced attributes, so the originals can be put back."""

    patches: list[tuple[object, str, object]] = field(default_factory=list)

    def restore(self) -> None:
        for owner, attr, original in reversed(self.patches):
            setattr(owner, attr, original)
        self.patches.clear()


def install(tracer: Tracer, dataframe_cls: type) -> Installed:
    """Wrap every public function and public method of the layer modules,
    in each loaded module of the package that holds a reference to it
    (``from x import f`` binds its own name), plus the checkpoint
    methods of ``dataframe_cls``."""
    installed = Installed()
    holders = [
        m
        for n, m in list(sys.modules.items())
        if m is not None and (n == "__spark_entry__" or n.startswith(PACKAGE))
    ]
    for short, only in LAYER_MODULES.items():
        mod = importlib.import_module(f"{PACKAGE}.{short}")
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if only is not None and name not in only:
                continue
            layer = _layer_of(short, name)
            if inspect.isfunction(obj):
                wrapped = tracer.wrap(obj, f"{layer}.{name}", layer)
                for holder in holders:
                    for attr, val in list(vars(holder).items()):
                        if val is obj:
                            installed.patches.append((holder, attr, obj))
                            setattr(holder, attr, wrapped)
            elif inspect.isclass(obj):
                for meth, fn in list(vars(obj).items()):
                    if not meth.startswith("_") and inspect.isfunction(fn):
                        installed.patches.append((obj, meth, fn))
                        setattr(obj, meth, tracer.wrap(fn, f"{layer}.{name}.{meth}", layer))
    for meth in ("localCheckpoint", "checkpoint"):
        fn = dataframe_cls.__dict__[meth]
        installed.patches.append((dataframe_cls, meth, fn))
        setattr(dataframe_cls, meth, tracer.wrap(fn, "checkpoint", ATTRIBUTED))
    return installed
