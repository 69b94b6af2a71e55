"""In-memory span tracing around the public calls of each engine layer.

Spans are recorded from the benchmark's own files: ``Tracer.wrap`` replaces a
public function or method of an engine module at run time with a wrapper that
opens a span around the call. No engine source changes. Each span keeps its name,
start, end, parent, the op (one workload operation) it belongs to, and the Spark
stage counters of the stages that ran inside it. Spans stay in memory and are
written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.sparkstats import Counters, StageCounters


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    stage_start: int = 0
    stage_end: int = 0
    counters: Counters | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "counters": self.counters.as_dict() if self.counters else None,
            "attrs": self.attrs,
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals`` (clipped)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    """Collects spans; ``wrap`` installs wrappers, ``restore`` removes them.

    While ``active`` is false the wrappers call straight through, so one run can
    alternate traced and untraced ops over the same warm-up state."""

    def __init__(self, stages: StageCounters | None = None) -> None:
        self.stages = stages
        self.spans: list[Span] = []
        self.op: int | None = None
        self.active = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                parent=stack[-1].id if stack else None,
                op=self.op,
                start=time.perf_counter(),
                attrs=dict(attrs),
            )
            self.spans.append(s)
        if self.stages is not None:
            s.stage_start = self.stages.mark()
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.stages is not None:
                s.stage_end = self.stages.mark()
                self.stages.drain()
                s.counters = self.stages.between(s.stage_start, s.stage_end)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_result: Callable[[Span, Any, tuple, dict], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with a
        wrapper that records a span named ``name`` around every call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(name) as s:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result, args, kwargs)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def per_op(self, name: str, value: Callable[[Span], float], self_time: bool = False) -> dict[int, float]:
        """Op → sum over the op's spans called ``name`` of ``value(span)``
        (or of the span's self time when ``self_time``)."""
        selfs = self_times(self.spans) if self_time else {}
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None:
                v = selfs[s.id] if self_time else value(s)
                out[s.op] = out.get(s.op, 0.0) + v
        return out


class ProgressListener(StreamingQueryListener):
    """Keeps the progress of every non-empty micro-batch of one named query."""

    def __init__(self, query_name: str) -> None:
        self.query_name = query_name
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.name != self.query_name or p.numInputRows == 0:
            return
        d = dict(p.durationMs)
        self.progress.append(
            {
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "duration_ms": d,
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
