"""Hierarchical timer tree (EtlProfilingScope.java:47-128 analogue) and its
integration with apply_batch's metrics record."""

import time

from pocket_etl_spark.profiling import Profiler


def test_scopes_nest_and_roll_up():
    prof = Profiler()
    with prof.scope("run"):
        with prof.scope("extract"):
            time.sleep(0.02)
        with prof.scope("load"):
            with prof.scope("write_parts"):
                time.sleep(0.02)
    flat = prof.flat()
    assert set(flat) == {"run", "run.extract", "run.load", "run.load.write_parts"}
    assert flat["run.load"] >= flat["run.load.write_parts"]


def test_apply_batch_records_phase_timings(spark, tmp_path):
    from pocket_etl_spark.cdc.apply import apply_batch
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    events = gen_change_events(spark, n_events=500, n_keys=50, seed=11)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    res = apply_batch(events, table, batch_id=0)
    for phase in ("dlq_split", "batch_stats", "merge", "merge.plan", "merge.write", "merge.commit"):
        assert phase in res.timings, res.timings
        assert res.timings[phase] >= 0
    # the batch's metrics record carries the same timings
    [record] = table.read_metrics().collect()
    assert record["timings"] == res.timings


def test_elapsed_times_ignore_wall_clock_steps(spark, tmp_path, monkeypatch):
    """A wall-clock step (NTP correction, VM resume) must not put a negative
    phase time into the metrics record: scopes and apply_batch's
    duration_sec measure elapsed time on a monotonic clock."""
    from pocket_etl_spark.cdc.apply import apply_batch
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    events = gen_change_events(spark, n_events=10, n_keys=5, seed=11)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    # an empty batch commits watermark 0 without a Spark job, so the
    # apply_batch below takes its fenced early return
    table.merge(events.limit(0), batch_id=0, facts={"buckets": [], "rows": 0, "min_lsn": None, "bytes": 0})

    wall = [time.time()]

    def stepping_back():
        wall[0] -= 3600.0
        return wall[0]

    prof = Profiler()
    with prof.scope("phase"):
        monkeypatch.setattr(time, "time", stepping_back)
    assert prof.flat()["phase"] >= 0

    res = apply_batch(events, table, batch_id=0)
    assert res.merge.stats["fenced"] is True
    assert res.duration_sec >= 0
