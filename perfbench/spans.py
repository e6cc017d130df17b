"""Spans around the engine's layer calls, recorded from outside the engine.

A :class:`Tracer` keeps every span in memory: its name, the query it belongs
to, start and end (``time.perf_counter`` seconds), its parent span, and the
Spark jobs, stages and tasks that ran while it was the innermost open span.  Job counts
come from the status tracker: each span opens its own Spark job group on the
driver thread, and on close the group's jobs are read back before the parent
span's group is restored.

:func:`layer_modules` loads every module of the traced layers, and
:func:`install` wraps the public functions of those modules and rebinds the wrapper at every module attribute that holds the function, so a
call through ``from ..sources import load_table`` is seen as well as one
through the defining module.  A wrapper pickles as its original (cloudpickle
pickles it by reference to the engine module, which a Python worker imports
unwrapped), keeps the original's signature for PySpark's UDF checks, and
records spans only for calls made inside a query on the thread that created
the tracer; other calls pass straight through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    query: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # jobs launched while this span was innermost
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in kids.get(s.sid, [])
            if hi > s.start and lo < s.end
        ]
        out[s.sid] = s.duration - union_length(clipped)
    return out


# Layers whose self time a traced run reports: the query's own phases, the
# planner, and the engine modules the wrappers cover.
LAYERS = (
    "query", "queries.build", "queries.action", "catalyst", "sources", "ckpt",
    "operators.graph", "operators.dedup", "operators.similarity", "sinks",
    "streaming", "enrichment", "functions",
)  # fmt: skip


def layer_of(span_name: str) -> str:
    """The layer a span is reported under: ``operators.graph`` for operator
    modules, ``queries.build`` and ``queries.action`` for the two phases of
    a query, else the first component (``sources``, ``catalyst``...)."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] in ("operators", "queries") else parts[0]


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Calls, time and Spark work per layer, from one run's spans.

    A layer's time and jobs count each outermost span of that layer once
    (a layer function calling another of its layer is not counted twice),
    with the jobs of every span below it.  ``self.<layer>_s`` is the layer's
    self time; over a query's spans the self times add up to its latency,
    and ``trace.self_sum_gap_s`` is the largest departure from that."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def inclusive(s: Span, field: str) -> int:
        return getattr(s, field) + sum(inclusive(c, field) for c in children.get(s.sid, []))

    def outermost(prefix: str) -> list[Span]:
        out = []
        for s in spans:
            if s.name.startswith(prefix):
                a = by_id.get(s.parent)
                while a is not None and not a.name.startswith(prefix):
                    a = by_id.get(a.parent)
                if a is None:
                    out.append(s)
        return out

    def seconds(prefix: str) -> float:
        return sum(s.duration for s in outermost(prefix))

    def work(prefix: str, field: str = "jobs") -> int:
        return sum(inclusive(s, field) for s in outermost(prefix))

    def calls(prefix: str) -> int:
        return sum(s.name.startswith(prefix) for s in spans)

    m: dict[str, float] = {
        "sources.load_table_calls": calls("sources.tables.load_table"),
        "sources.load_table_s": seconds("sources.tables.load_table"),
        "sources.load_table_jobs": work("sources.tables.load_table"),
        "queries.build_s": seconds("queries.build"),
        "queries.build_jobs": work("queries.build"),
        "queries.build_tasks": work("queries.build", "tasks"),
        "ckpt.calls": calls("ckpt."),
        "operators.graph_s": seconds("operators.graph."),
        "operators.graph_jobs": work("operators.graph."),
        "operators.dedup_s": seconds("operators.dedup."),
        "operators.similarity_s": seconds("operators.similarity."),
        "catalyst.plan_s": seconds("catalyst.plan"),
        "queries.action_s": seconds("queries.action"),
        "queries.action_jobs": work("queries.action"),
        "enrichment.s": seconds("enrichment."),
        "sinks.calls": calls("sinks."),
        "sinks.s": seconds("sinks."),
        "sinks.jobs": work("sinks."),
        "streaming.calls": calls("streaming."),
        "streaming.s": seconds("streaming."),
    }
    selfs = self_times(spans)
    layer_self = dict.fromkeys(LAYERS, 0.0)
    root_self: dict[int, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s.sid]
        root = s
        while root.parent is not None:
            root = by_id[root.parent]
        root_self[root.sid] = root_self.get(root.sid, 0.0) + selfs[s.sid]
    m.update({f"self.{k}_s": v for k, v in layer_self.items()})
    m["trace.self_sum_gap_s"] = max(
        (abs(v - by_id[sid].duration) for sid, v in root_self.items()), default=0.0
    )
    return m


class JobCounter:
    """Reads jobs/stages/tasks of a Spark job group from the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def enter(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def leave(self, group: str, restore: str | None) -> tuple[int, int, int]:
        job_ids = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for stage_id in info.stageIds if info else ():
                st = self.tracker.getStageInfo(stage_id)
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks + st.numFailedTasks
        if restore is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(restore, restore)
        return len(job_ids), stages, tasks


class Tracer:
    """In-memory span recorder for one thread (the benchmark's client)."""

    def __init__(self, counter: JobCounter | None = None) -> None:
        self.spans: list[Span] = []
        self.counter = counter
        self.query = ""
        self.offthread_calls = 0
        self._stack: list[Span] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.query, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        group = f"pb-span-{s.sid}"
        if self.counter:
            self.counter.enter(group)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.counter:
                restore = f"pb-span-{parent.sid}" if parent else None
                s.jobs, s.stages, s.tasks = self.counter.leave(group, restore)

    def wrap(self, fn: Callable, name: str) -> Callable:
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != self._thread or not self._stack:
                self.offthread_calls += threading.get_ident() != self._thread
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__signature__ = sig
        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def layer_modules(package: str, prefixes: Iterable[str]) -> list[str]:
    """Names of the modules of ``package`` at or below each prefix
    (``sources``, ``operators.graph``), importing those not loaded yet.  A
    query may import a layer module only inside its body (``from
    ..operators.graph import triangles``); were the module first loaded
    after :func:`install`, that call would reach the unwrapped function."""
    names = []
    for prefix in prefixes:
        mod = importlib.import_module(f"{package}.{prefix}")
        names.append(mod.__name__)
        for info in pkgutil.walk_packages(getattr(mod, "__path__", []), mod.__name__ + "."):
            names.append(importlib.import_module(info.name).__name__)
    return names


def layer_functions(module_names: Iterable[str], package: str) -> dict[str, Callable]:
    """Span name -> function, for every public function defined in the
    modules; span names are the module path below ``package`` plus the
    function name (``sources.tables.load_table``)."""
    found = {}
    for modname in module_names:
        mod = sys.modules[modname]
        for attr, obj in vars(mod).items():
            if (
                inspect.isfunction(obj)
                and not attr.startswith("_")
                and obj.__module__ == modname
            ):
                rel = modname[len(package) + 1 :]
                found[f"{rel}.{attr}"] = obj
    return found


def install(
    tracer: Tracer, functions: dict[str, Callable], package: str
) -> list[tuple[str, str, Callable]]:
    """Rebind a traced wrapper at every binding of each function in every
    loaded module of ``package``; returns (module, attribute, original) for
    :func:`uninstall`."""
    by_id = {id(fn): (fn, tracer.wrap(fn, name)) for name, fn in functions.items()}
    bindings = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == package or modname.startswith(package + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            hit = by_id.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, attr, hit[1])
                bindings.append((modname, attr, obj))
    return bindings


def uninstall(bindings: list[tuple[str, str, Callable]]) -> None:
    for modname, attr, original in bindings:
        setattr(sys.modules[modname], attr, original)
