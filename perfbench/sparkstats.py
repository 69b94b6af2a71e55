"""Stage work counters from Spark's status store.

Stage ids are allocated in order, so the stages a piece of driver code ran are the
ids handed out between a mark taken before it and one taken after it. The
benchmark drives Spark from one client at a time (the tail's micro-batch and the
client's feed read never overlap), so every stage in that interval belongs to
the call that was running.

Job groups are not used for the attribution: Structured Streaming sets its own
job group on the tail's batches (it cancels through it on ``stop()``), and
overwriting it from inside ``foreachBatch`` would break that.

The status store keeps a bounded number of stages (``spark.ui.retainedStages``),
so counters are read after each call, not once per run; each stage is read once
and cached.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class Counters:
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0

    def __add__(self, other: "Counters") -> "Counters":
        return Counters(*(getattr(self, f.name) + getattr(other, f.name) for f in fields(self)))

    def __sub__(self, other: "Counters") -> "Counters":
        return Counters(*(getattr(self, f.name) - getattr(other, f.name) for f in fields(self)))

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


class StageCounters:
    """Reads per-stage counters for stage-id intervals, caching each stage."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._cache: dict[int, Counters] = {}

    def mark(self) -> int:
        """The next stage id Spark will hand out."""
        return int(self._dag.nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so far,
        so the status store holds the final counters of finished stages."""
        self._bus.waitUntilEmpty(60_000)

    def _read(self, sid: int) -> Counters | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j raises NoSuchElementException as Py4JJavaError
            return None
        return Counters(
            cpu_s=st.executorCpuTime() / 1e9,
            run_s=st.executorRunTime() / 1e3,
            gc_s=st.jvmGcTime() / 1e3,
            shuffle_write_bytes=int(st.shuffleWriteBytes()),
            shuffle_read_bytes=int(st.shuffleReadBytes()),
            spill_bytes=int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
            tasks=int(st.numCompleteTasks()),
        )

    def between(self, start: int, end: int) -> Counters:
        """Sum of the counters of stages ``start <= id < end``. Call ``drain``
        first. A stage id that never reached the store (a stage planned but not
        submitted) contributes nothing."""
        total = Counters()
        for sid in range(start, end):
            c = self._cache.get(sid)
            if c is None:
                c = self._read(sid)
                if c is None:
                    continue
                self._cache[sid] = c
            total = total + c
        return total

    def executor_totals(self) -> Counters:
        """Cumulative totals from the executor summaries — an independent source
        the per-interval sums are checked against."""
        self.drain()
        total = Counters()
        summaries = self._store.executorList(True)
        for i in range(summaries.size()):
            e = summaries.apply(i)
            total = total + Counters(
                run_s=e.totalDuration() / 1e3,
                gc_s=e.totalGCTime() / 1e3,
                shuffle_write_bytes=int(e.totalShuffleWrite()),
                shuffle_read_bytes=int(e.totalShuffleRead()),
                tasks=int(e.completedTasks()),
            )
        return total
