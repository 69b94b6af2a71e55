"""Streaming tail: checkpoint resume, crash/restart fault injection, exactly-once.

Fault matrix mirrors the reference's StreamFailureTest.java:50-190 — recoverable
(DLQ, stream continues) vs unrecoverable (query aborts, restart from checkpoint) —
re-expressed for micro-batches: crash BEFORE the merge commits (restart reprocesses,
applies once) and crash AFTER it commits (restart replays, fencing no-ops)."""

import os

import pytest
from pyspark.sql import functions as F

from pocket_etl_spark.datagen import gen_change_events
from pocket_etl_spark.lake import ParquetLakeTable
from pocket_etl_spark.streaming import tail as cdc_tail
from pocket_etl_spark.streaming.tail import run_tail_to_exhaustion
from tests.test_cdc_apply import assert_state_equals_oracle


@pytest.fixture()
def wal(spark, tmp_path):
    """WAL dir with events written as 3 parquet files (3 micro-batches at
    maxFilesPerTrigger=1)."""
    events = gen_change_events(spark, n_events=1500, n_keys=120, seed=21)
    wal_dir = str(tmp_path / "wal")
    for i, (lo, hi) in enumerate([(1, 500), (501, 1000), (1001, 1500)]):
        events.filter((events.lsn >= lo) & (events.lsn <= hi)).coalesce(1).write.mode(
            "append"
        ).parquet(wal_dir)
    return wal_dir, events


def test_tail_drains_wal_and_matches_oracle(spark, tmp_path, wal):
    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    run_tail_to_exhaustion(
        spark, wal_dir, table, str(tmp_path / "ckpt"), query_id="q1"
    )
    assert_state_equals_oracle(table, events.toPandas())


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path, wal):
    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    run_tail_to_exhaustion(spark, wal_dir, table, ckpt, query_id="q1")
    v_after_first = table.current_version()

    # restart with nothing new: no data commits
    run_tail_to_exhaustion(spark, wal_dir, table, ckpt, query_id="q1")
    assert table.current_version() == v_after_first

    # append late, out-of-order events (lower LSNs re-sent + new deletes)
    extra = gen_change_events(spark, n_events=2000, n_keys=120, seed=21).filter(
        "lsn between 1501 and 2000"
    )
    extra.coalesce(1).write.mode("append").parquet(wal_dir)
    run_tail_to_exhaustion(spark, wal_dir, table, ckpt, query_id="q1")
    full = gen_change_events(spark, n_events=2000, n_keys=120, seed=21)
    assert_state_equals_oracle(table, full.toPandas())


def test_crash_before_merge_then_restart(spark, tmp_path, wal, monkeypatch):
    """Unrecoverable failure inside batch 1 BEFORE any merge: restart reprocesses
    that batch; final state equals oracle (no loss)."""
    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    crashed = {"done": False}
    real_apply = cdc_tail.apply_batch

    def bomb(df, table, batch_id=None, **kw):
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected unrecoverable failure (pre-merge)")
        return real_apply(df, table, batch_id=batch_id, **kw)

    # the tail's foreachBatch body calls apply_batch through its own module
    monkeypatch.setattr(cdc_tail, "apply_batch", bomb)
    with pytest.raises(Exception):
        run_tail_to_exhaustion(
            spark, wal_dir, table, ckpt, query_id="q1", max_files_per_trigger=1,
        )
        raise RuntimeError("query should have failed")  # pragma: no cover
    run_tail_to_exhaustion(
        spark, wal_dir, table, ckpt, query_id="q1", max_files_per_trigger=1
    )
    assert_state_equals_oracle(table, events.toPandas())


def test_crash_after_merge_fences_on_restart(spark, tmp_path, wal, monkeypatch):
    """Failure AFTER the merge committed but before Spark records the batch:
    restart replays the same batch_id → fencing makes it a no-op; state equals
    oracle with no double-apply."""
    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    crashed = {"done": False}
    real_apply = cdc_tail.apply_batch

    def apply_then_bomb(df, table, batch_id=None, **kw):
        res = real_apply(df, table, batch_id=batch_id, **kw)
        # emulate: merge commit succeeds, then the executor dies before Spark
        # writes the checkpoint commit marker for this batch
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash post-merge, pre-checkpoint")
        return res

    monkeypatch.setattr(cdc_tail, "apply_batch", apply_then_bomb)
    with pytest.raises(Exception):
        run_tail_to_exhaustion(
            spark, wal_dir, table, ckpt, query_id="q1", max_files_per_trigger=1,
        )
        raise RuntimeError("query should have failed")  # pragma: no cover
    run_tail_to_exhaustion(
        spark, wal_dir, table, ckpt, query_id="q1", max_files_per_trigger=1
    )
    assert_state_equals_oracle(table, events.toPandas())


def test_tail_with_transform_and_dlq(spark, tmp_path, wal):
    """Pre-apply transform hook + recoverable bad rows → DLQ, stream continues."""
    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")

    def poison(df):
        return df.withColumn(
            "op",
            F.when(F.pmod(F.col("lsn"), F.lit(100)) == 0, F.lit("??")).otherwise(F.col("op")),
        )

    run_tail_to_exhaustion(
        spark, wal_dir, table, str(tmp_path / "ckpt"), query_id="q1",
        transform=poison, dlq_path=dlq,
    )
    assert spark.read.parquet(dlq).count() == 15
    good = poison(events).filter(F.col("op").isin("I", "U", "D"))
    assert_state_equals_oracle(table, good.toPandas())


def test_tail_leaves_one_metrics_record_per_batch(spark, tmp_path, wal):
    """Every committed micro-batch of a plain tail leaves one metrics record:
    batch ids contiguous from 0, every WAL event counted once, versions equal
    to the manifests that carry each batch's watermark, and phase timings that
    roll up into their parents. A replayed batch id adds no record."""
    from pocket_etl_spark.cdc.apply import apply_batch

    wal_dir, events = wal
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    run_tail_to_exhaustion(
        spark, wal_dir, table, str(tmp_path / "ckpt"), query_id="qm",
        max_files_per_trigger=1,
    )
    rows = sorted(table.read_metrics().collect(), key=lambda r: r["batch_id"])
    assert [r["batch_id"] for r in rows] == list(range(table.last_batch_id("qm") + 1))
    assert all(r["query_id"] == "qm" for r in rows)
    assert sum(r["rows_in"] for r in rows) == 1500
    assert sorted(r["version"] for r in rows) == list(range(1, table.current_version() + 1))
    for r in rows:
        assert table._manifest(r["version"])["watermarks"]["qm"] == r["batch_id"]
        assert r["rows_applied"] == r["rows_in"] - r["rows_bad"]
        t = r["timings"]
        top = sum(v for k, v in t.items() if "." not in k)
        sub = sum(v for k, v in t.items() if k.startswith("merge."))
        # timings are rounded to 1 us each, so allow a few us of slack
        assert top <= r["duration_sec"] + 1e-5, t
        assert sub <= t["merge"] + 1e-5, t

    replay = apply_batch(events.filter("lsn <= 500"), table, batch_id=0, query_id="qm")
    assert not replay.merge.committed
    assert table.read_metrics().count() == len(rows)


def test_kafka_envelope_tail_matches_oracle(spark, tmp_path):
    """VERDICT r2 #7: the binlog-consumer shape — a WAL of Kafka-contract
    (key, value) byte pairs with the change event JSON-encoded in value —
    decodes mid-stream (from_json, JVM-side) and feeds the SAME apply_batch
    unchanged; final state matches the oracle, and an undecodable record
    routes to the DLQ with its raw payload instead of vanishing."""
    from pocket_etl_spark.streaming.envelope import (
        KAFKA_ENVELOPE_SCHEMA,
        decode_kafka_envelope,
        encode_kafka_envelope,
    )

    events = gen_change_events(spark, n_events=1200, n_keys=90, seed=33)
    wal_dir = str(tmp_path / "kafka_wal")
    for lo, hi in [(1, 600), (601, 1200)]:
        enc = encode_kafka_envelope(
            events.filter((events.lsn >= lo) & (events.lsn <= hi))
        )
        enc.coalesce(1).write.mode("append").parquet(wal_dir)
    # one poisoned record: value is not JSON
    spark.createDataFrame(
        [(b"poison", b"{not json at all")], "key binary, value binary"
    ).write.mode("append").parquet(wal_dir)

    table = ParquetLakeTable(spark, str(tmp_path / "t_env"), num_buckets=4)
    dlq = str(tmp_path / "dlq_env")
    run_tail_to_exhaustion(
        spark,
        wal_dir,
        table,
        str(tmp_path / "ckpt_env"),
        query_id="env_tail",
        transform=decode_kafka_envelope,
        wal_schema=KAFKA_ENVELOPE_SCHEMA,
        dlq_path=dlq,
    )
    assert_state_equals_oracle(table, events.toPandas())
    # table schema never grew an envelope residue column
    assert "_raw_value" not in [f.name for f in table.schema().fields]
    bad = spark.read.parquet(dlq).collect()
    assert len(bad) == 1
    assert "{not json at all" in bad[0]["payload"]


def test_stop_during_fold_then_restart(spark, tmp_path, monkeypatch):
    """``stop()`` while a batch's folding merge is writing, then a restart on
    the same checkpoint. The write blocks in a JVM call, which the stop
    interrupts; the fold is inside the batch's one commit, so nothing of the
    batch has committed and Spark replays it on restart. Every committed
    batch then has its metrics record, the replay replaces the batch's DLQ
    rows instead of adding a second copy, and it writes over the half-written
    data dir. (Spark's interruption check matches the Python error text
    against a regex whose repeated group recurses once per character, so a
    long text overflows the stream thread's stack; the query ends with no
    exception either way.)"""
    import threading

    from pocket_etl_spark import lake

    events = gen_change_events(spark, n_events=1500, n_keys=120, seed=23).withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(100)) == 0, F.lit("??")).otherwise(F.col("op"))
    )
    stage, wal = str(tmp_path / "stage"), str(tmp_path / "wal")
    for i, (lo, hi) in enumerate([(1, 500), (501, 1000), (1001, 1500)]):
        events.filter(f"lsn between {lo} and {hi}").coalesce(1).write.parquet(f"{stage}/{i}")
    os.makedirs(wal)

    def send(i):
        [f] = [p for p in os.listdir(f"{stage}/{i}") if p.endswith(".parquet")]
        os.rename(f"{stage}/{i}/{f}", f"{wal}/{i}.parquet")

    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    dlq, ckpt = str(tmp_path / "dlq"), str(tmp_path / "ckpt")
    folding = threading.Event()
    real_write = ParquetLakeTable._write_buckets

    def blocked_write(self, df, version, *args, **kwargs):
        if version == 2 and not folding.is_set():
            # batch 1's merge folds (every bucket it touches holds commit 1)
            # and its write has begun: its data dir holds a stray part file
            half = os.path.join(self.path, "data", f"v{version:012d}")
            os.makedirs(half)
            with open(os.path.join(half, "part-00000-half.parquet"), "wb") as f:
                f.write(b"PAR1")
            folding.set()
            # a JVM call on the stream thread, so stop() interrupts it
            spark.sparkContext._jvm.java.lang.Thread.sleep(120_000)
        return real_write(self, df, version, *args, **kwargs)

    monkeypatch.setattr(lake, "_FOLD_AT", 1)
    monkeypatch.setattr(ParquetLakeTable, "_write_buckets", blocked_write)
    send(0)
    send(1)
    q = cdc_tail.start_tail(
        spark, wal, table, ckpt, query_id="qs", dlq_path=dlq,
        max_files_per_trigger=1, available_now=False,
    )
    try:
        assert folding.wait(120), "the folding merge never started writing"
        q.stop()
    finally:
        folding.set()
        if q.isActive:
            q.stop()
    assert not q.isActive and q.exception() is None
    assert (table.last_batch_id("qs"), table.current_version()) == (0, 1)
    half = os.path.join(table.path, "data", f"v{2:012d}")
    assert os.listdir(half) == ["part-00000-half.parquet"]

    send(2)
    run_tail_to_exhaustion(spark, wal, table, ckpt, query_id="qs", dlq_path=dlq, max_files_per_trigger=1)
    good = events.filter(F.col("op").isin("I", "U", "D"))
    assert_state_equals_oracle(table, good.toPandas())
    assert spark.read.parquet(dlq).count() == events.count() - good.count() == 15
    metrics = sorted(table.read_metrics().collect(), key=lambda r: r["version"])
    assert [r["batch_id"] for r in metrics] == [0, 1, 2]
    assert metrics[1]["buckets_folded"] > 0
    assert [
        v for v in range(1, table.current_version() + 1)
        if table._manifest(v)["watermarks"].get("qs") == 1
        and table._manifest(v - 1)["watermarks"].get("qs") != 1
    ] == [2]
    on_disk = sorted(f for f in os.listdir(half) if f.endswith(".parquet"))
    assert on_disk == sorted(os.path.basename(f) for f in table._manifest(2)["files"] if lake._commit_of(f) == 2)
    assert "part-00000-half.parquet" not in on_disk
