"""Hierarchical profiling scopes — the reference's timer tree re-expressed.

pocket-etl wraps every stage in an EtlProfilingScope (EtlProfilingScope.java:47-128):
scopes nest on a per-thread stack, each records wall time on close, and child
timers roll up into their parent so a run emits one hierarchical timing tree
next to the counters (EtlMetrics.java:25-53). Here the driver-side orchestration
(batch apply phases, stream runs) is what nests — distributed work inside a
scope is timed as one unit, which is exactly how the reference's thread-pool
stages appeared to their parent scope.

Usage::

    prof = Profiler()
    with prof.scope("apply_batch"):
        with prof.scope("dlq_split"):
            ...
        with prof.scope("merge"):
            ...
    prof.flat()   # {"apply_batch": 1.23, "apply_batch.merge": 1.0, ...}

``apply_batch`` stores its ``flat()`` timings in each batch's metrics record
(``ParquetLakeTable.read_metrics``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class _Scope:
    name: str
    started: float
    elapsed: float = 0.0
    children: list["_Scope"] = field(default_factory=list)


class Profiler:
    """Collects a tree of named timing scopes (driver-side, single-threaded —
    one Profiler per run/batch, like one EtlMetrics per EtlStream run)."""

    def __init__(self) -> None:
        self._root = _Scope("root", time.perf_counter())
        self._stack = [self._root]

    @contextmanager
    def scope(self, name: str):
        s = _Scope(name, time.perf_counter())
        self._stack[-1].children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.elapsed = time.perf_counter() - s.started
            self._stack.pop()

    def flat(self) -> dict[str, float]:
        """Dotted-path → elapsed seconds (the reference's hierarchical metric
        names, EtlProfilingScope.java:96-104)."""
        out: dict[str, float] = {}

        def walk(s: _Scope, prefix: str) -> None:
            path = f"{prefix}.{s.name}" if prefix else s.name
            out[path] = round(s.elapsed, 6)
            for c in s.children:
                walk(c, path)

        for c in self._root.children:
            walk(c, "")
        return out
