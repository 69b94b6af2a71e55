"""Tests for the benchmark's own helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench.stats import median, tail_percentile, timing_summary
from perfbench.trace import Span, Tracer, covered, self_times
from perfbench.trickle import wait_for_batch

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- percentile rule


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile([float(i) for i in range(10)]) is None
    assert timing_summary([1.0, 2.0, 3.0])["tail"] is None


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 21)]  # 20 samples
    t = tail_percentile(list(reversed(values)))
    assert t == {"percentile": 50.0, "value": 10.0, "n": 20}
    assert sum(v > t["value"] for v in values) == 10

    t = tail_percentile([float(i) for i in range(1, 101)])
    assert t["percentile"] == 90.0 and t["value"] == 90.0


def test_median_of_nothing_is_zero():
    assert median([]) == 0.0
    assert median(x for x in ()) == 0.0
    assert median(x for x in (3.0, 1.0, 2.0)) == 2.0


# ---------------------------------------------------------------- span self time


def _span(i, parent, start, end, name="s"):
    return Span(id=i, name=name, parent=parent, op=0, start=start, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (9, 12)], 0, 10) == pytest.approx(5.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),  # grandchild: already inside its parent
        _span(3, 0, 6.0, 7.5),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.5)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)


def test_tracer_wraps_restores_and_nests():
    class Layer:
        def inner(self):
            time.sleep(0.01)
            return 7

        def outer(self):
            return self.inner() + 1

    original = Layer.inner
    tracer = Tracer()
    tracer.wrap(Layer, "outer", "outer")
    tracer.wrap(Layer, "inner", "inner", on_result=lambda s, r, a, k: s.attrs.update(r=r))
    tracer.op = 3
    assert Layer().outer() == 8
    tracer.restore()
    assert Layer.inner is original

    outer, inner = sorted(tracer.spans, key=lambda s: s.start)
    assert inner.parent == outer.id and outer.parent is None
    assert inner.op == outer.op == 3 and inner.attrs == {"r": 7}
    assert self_times(tracer.spans)[outer.id] == pytest.approx(outer.duration - inner.duration)
    assert tracer.per_op("inner", lambda s: 1.0) == {3: 1.0}


# ---------------------------------------------------------------- commit waiter


def test_wait_for_batch_times_out():
    t0 = time.perf_counter()
    assert wait_for_batch(lambda: -1, 0, timeout_s=0.05) is False
    assert 0.05 <= time.perf_counter() - t0 < 1.0


def test_wait_for_batch_stops_when_tail_dies():
    t0 = time.perf_counter()
    assert wait_for_batch(lambda: -1, 0, timeout_s=30.0, alive=lambda: False) is False
    assert time.perf_counter() - t0 < 1.0


def test_wait_for_batch_sees_commit():
    reads = iter([-1, -1, 0, 1])
    assert wait_for_batch(lambda: next(reads), 1, timeout_s=5.0) is True


# ---------------------------------------------------------------- stage counters


def test_stage_counters_on_known_job(spark):
    from pyspark.sql import functions as F

    from perfbench.sparkstats import StageCounters

    stages = StageCounters(spark)
    before = stages.executor_totals()
    mark = stages.mark()
    rows = (
        spark.range(0, 10_000, numPartitions=4)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .collect()
    )
    end = stages.mark()
    stages.drain()
    c = stages.between(mark, end)
    delta = stages.executor_totals() - before

    assert len(rows) == 10
    assert end - mark >= 2  # a map stage and a reduce stage
    assert c.tasks >= 5 and c.cpu_s > 0
    assert c.shuffle_write_bytes > 0 and c.shuffle_write_bytes == c.shuffle_read_bytes
    # the same stages read twice come from the cache and give the same sum
    assert stages.between(mark, end) == c
    # independent executor totals count the same shuffle bytes and tasks
    assert delta.shuffle_write_bytes == c.shuffle_write_bytes
    assert delta.tasks == c.tasks


# ---------------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_the_code():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
