"""In-memory spans, identity wrapping of engine entry points, and per-phase
Spark counters read from the status store.

Only the traced run uses this module. Spans stay in memory and are written
once at the end. The engine's own ``Watch`` is deliberately not used: it
walks every retained stage at each span edge, which costs far more than the
job-group reads here.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

PACKAGE = "graphulo_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans for one single-threaded driver. ``bookkeeping_s`` is the
    time the tracer itself spent (span edges, counter reads), which is
    what tracing adds to the traced run's wall time."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        t0 = self.clock()
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = self.clock()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self.bookkeeping_s += self.clock() - sp.end

    def index(self, sp: Span) -> int:
        return next(i for i, s in enumerate(self.spans) if s is sp)

    def children(self, sp: Span) -> list[Span]:
        i = self.index(sp)
        return [s for s in self.spans if s.parent == i]

    def descendants(self, sp: Span, names: set[str]) -> list[Span]:
        """Spans named in ``names`` anywhere below ``sp``, in start order."""
        below = {self.index(sp)}
        out = []
        for i, s in enumerate(self.spans):
            if s.parent in below:
                below.add(i)
                if s.name in names:
                    out.append(s)
        return out

    def self_time(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])

    def dump(self) -> list[dict[str, Any]]:
        return [
            {"id": i, "parent": s.parent, "name": s.name, "start": s.start, "end": s.end,
             "self_s": self.self_time(s), **({"attrs": s.attrs} if s.attrs else {})}
            for i, s in enumerate(self.spans)
        ]


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span length minus the part of [start, end] that the union of the
    children's intervals covers."""
    covered, reach = 0.0, start
    for c0, c1 in sorted(children):
        c0, c1 = max(c0, reach), min(c1, end)
        if c1 > c0:
            covered += c1 - c0
            reach = c1
    return (end - start) - covered


@dataclass(frozen=True)
class Target:
    """An engine entry point to wrap: ``qualname`` is ``func`` or
    ``Class.method`` in ``module``; ``summarize`` turns a result into span
    attributes."""

    span: str
    module: str
    qualname: str
    summarize: Callable[[Any], dict[str, Any]] | None = None


class Patcher:
    """Wraps entry points by identity in every loaded engine module, so a call
    site that imported the function under any name is still traced. An entry
    point that no longer exists is reported in ``missing``, never as zero."""

    def __init__(self, tracer: Tracer, package: str = PACKAGE):
        self.tracer = tracer
        self.package = package
        self.missing: dict[str, str] = {}
        self.sites: dict[str, list[str]] = {}
        self._undo: list[tuple[Any, str, Any]] = []

    def _modules(self) -> list[Any]:
        return [m for n, m in sorted(sys.modules.items())
                if m is not None and (n == self.package or n.startswith(self.package + "."))]

    def _resolve(self, t: Target) -> tuple[Any, str, Any] | None:
        """(owner, attribute, original) for the target: its home module
        first, then any engine module defining the same qualname."""
        owner_name, _, attr = t.qualname.rpartition(".")
        homes = [sys.modules.get(t.module)] + self._modules()
        for mod in homes:
            owner = mod
            if mod is None:
                continue
            if owner_name:
                owner = getattr(mod, owner_name, None)
                if not isinstance(owner, type):
                    continue
                fn = owner.__dict__.get(attr)
            else:
                fn = getattr(mod, attr, None)
            if callable(fn) and getattr(fn, "__qualname__", None) == t.qualname:
                return owner, attr, fn
        return None

    def install(self, targets: list[Target]) -> None:
        for t in targets:
            found = self._resolve(t)
            if found is None:
                self.missing[t.span] = f"{t.module}:{t.qualname} not found in any loaded {self.package} module"
                continue
            owner, attr, fn = found
            wrapper = self._wrap(t, fn)
            if isinstance(owner, type):
                self._set(owner, attr, wrapper)
                self.sites[t.span] = [f"{owner.__module__}.{owner.__qualname__}.{attr}"]
                continue
            self.sites[t.span] = []
            for mod in self._modules():
                for name, value in list(vars(mod).items()):
                    if value is fn:
                        self._set(mod, name, wrapper)
                        self.sites[t.span].append(f"{mod.__name__}.{name}")

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, t: Target, fn: Callable) -> Callable:
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with tracer.span(t.span) as sp:
                out = fn(*args, **kwargs)
            if t.summarize is not None:
                sp.attrs.update(t.summarize(out))
            return out

        return traced

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


class JobCounters:
    """Jobs, tasks and shuffle/spill bytes of everything Spark ran under one
    job group, read from the status store after the listener bus drains.
    The counts repeat exactly for the same input and code."""

    def __init__(self, spark: Any, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = spark._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def group(self, name: str) -> Iterator[None]:
        self.sc.setJobGroup(f"perfbench-{name}", name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, name: str) -> dict[str, float]:
        t0 = self.tracer.clock()
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"perfbench-{name}")
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for s in sorted(stage_ids):
            attempts = self._store.stageData(s, False, self._no_status, False, self._no_quantiles)
            for k in range(attempts.length()):
                sd = attempts.apply(k)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                out["spill_mb"] += sd.diskBytesSpilled() / 1e6
        self.tracer.bookkeeping_s += self.tracer.clock() - t0
        return out
