"""Replay-equivalence: engine final table state == naive pandas LWW oracle,
compared by (repo, path, commit, lang, sha256(content), lsn) — the BASELINE.json
invariant. Mirrors the reference's order-insensitive golden assertions
(functionalTests/SimpleEtlFunctionalTest.java:56-61)."""

import pandas as pd
import pytest

from pocket_etl_spark.cdc.apply import apply_batch
from pocket_etl_spark.datagen import content_sha256, gen_change_events, oracle_apply_pandas
from pocket_etl_spark.lake import ParquetLakeTable


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["content_sha"] = content_sha256(pdf)
    pdf = pdf.drop(columns=["content"])
    return (
        pdf[["repo", "path", "commit", "lang", "content_sha", "lsn"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def assert_state_equals_oracle(table: ParquetLakeTable, events_pdf: pd.DataFrame):
    got = _normalize(table.read().toPandas())
    want = _normalize(oracle_apply_pandas(events_pdf))
    pd.testing.assert_frame_equal(got, want)


def test_single_batch_apply_matches_oracle(spark, tmp_table_path):
    events = gen_change_events(spark, n_events=3000, n_keys=300, seed=42)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    res = apply_batch(events, table, batch_id=0)
    assert res.merge.committed
    assert_state_equals_oracle(table, events.toPandas())


def test_multi_batch_replay_matches_oracle(spark, tmp_table_path):
    """Events split into 4 sequential micro-batches by LSN range — the replayed
    final state must equal the single-pass oracle over the whole log."""
    events = gen_change_events(spark, n_events=2000, n_keys=150, seed=7)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    for i in range(4):
        lo, hi = i * 500 + 1, (i + 1) * 500
        batch = events.filter((events.lsn >= lo) & (events.lsn <= hi))
        apply_batch(batch, table, batch_id=i)
    assert_state_equals_oracle(table, events.toPandas())


def test_out_of_order_batches_never_regress(spark, tmp_table_path):
    """Batches applied out of LSN order (late data): the lsn >= guard means final
    state still equals the oracle (order-independence is the reference's lateness
    answer, RedshiftLoadStrategy.java:21-75)."""
    events = gen_change_events(spark, n_events=3000, n_keys=150, seed=9)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    ranges = [(2001, 3000), (1, 1000), (1001, 2000)]  # shuffled replay order
    for i, (lo, hi) in enumerate(ranges):
        batch = events.filter((events.lsn >= lo) & (events.lsn <= hi))
        apply_batch(batch, table, batch_id=i)
    assert_state_equals_oracle(table, events.toPandas())


def test_double_replay_is_idempotent(spark, tmp_table_path):
    """Same batch applied twice with the same batch_id → fenced no-op; with a new
    batch_id → merge guard makes it a semantic no-op. Both leave state identical."""
    events = gen_change_events(spark, n_events=2000, n_keys=100, seed=5)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    apply_batch(events, table, batch_id=0)
    v1 = table.current_version()
    state1 = _normalize(table.read().toPandas())

    fenced = apply_batch(events, table, batch_id=0)
    assert not fenced.merge.committed and fenced.merge.stats.get("fenced")
    assert table.current_version() == v1

    apply_batch(events, table, batch_id=1)  # replay under a NEW batch id
    state2 = _normalize(table.read().toPandas())
    pd.testing.assert_frame_equal(state1, state2)


def test_deletes_remove_rows(spark, tmp_table_path):
    events = gen_change_events(
        spark, n_events=2000, n_keys=50, seed=3, insert_pct=10, update_pct=40
    )  # 50% deletes
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    apply_batch(events, table, batch_id=0)
    assert_state_equals_oracle(table, events.toPandas())
    pdf = table.read().toPandas()
    # every surviving row's latest event was not a delete
    assert (pdf["content"].notna()).all()


def test_dlq_routes_invalid_rows(spark, tmp_table_path, tmp_path):
    from pyspark.sql import functions as F

    events = gen_change_events(spark, n_events=1000, n_keys=50, seed=11)
    # poison 10% of rows with an invalid op (recoverable → DLQ, stream continues)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit("X")).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    res = apply_batch(poisoned, table, batch_id=0, dlq_path=dlq)
    assert res.rows_bad == 100
    dlq_df = spark.read.parquet(dlq)
    assert dlq_df.count() == 100
    assert set(dlq_df.columns) == {"batch_id", "stage", "error", "payload", "ts"}
    # good rows applied: state equals oracle over the non-poisoned events
    good_pdf = poisoned.filter(F.col("op").isin("I", "U", "D")).toPandas()
    assert_state_equals_oracle(table, good_pdf)


def test_null_op_rows_route_to_dlq_not_lost(spark, tmp_table_path, tmp_path):
    """A NULL op makes bare `isin` evaluate to SQL NULL, which both filter(cond)
    and filter(~cond) exclude — the row would vanish (neither merged nor DLQ'd)
    while the watermark commits. schema.valid_event must force FALSE instead."""
    from pyspark.sql import functions as F

    events = gen_change_events(spark, n_events=1000, n_keys=50, seed=13)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    res = apply_batch(poisoned, table, batch_id=0, dlq_path=dlq)
    assert res.rows_bad == 100
    assert spark.read.parquet(dlq).count() == 100  # counted AND written, not lost
    good_pdf = poisoned.filter(F.col("op").isin("I", "U", "D")).toPandas()
    assert_state_equals_oracle(table, good_pdf)


def test_invalid_rows_without_dlq_raise_and_commit_nothing(spark, tmp_table_path):
    """No row may vanish silently: without a dlq_path, a batch carrying
    invalid rows (10% NULL op) raises before the merge — the table version,
    the watermark and the cache are exactly as before the call."""
    import pytest
    from pyspark.sql import functions as F

    events = gen_change_events(spark, n_events=1000, n_keys=50, seed=13)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    apply_batch(events.filter("lsn <= 500"), table, batch_id=0)
    version = table.current_version()
    poisoned = events.filter("lsn > 500").withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    sc = spark.sparkContext._jsc.sc()
    cached_before = sc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="50 rows are still invalid"):
        apply_batch(poisoned, table, batch_id=1)
    assert table.current_version() == version
    assert table.last_batch_id() == 0
    assert sc.getPersistentRDDs().size() == cached_before
    assert_state_equals_oracle(table, events.filter("lsn <= 500").toPandas())


def test_dlq_default_payload_is_pii_safe(spark, tmp_table_path, tmp_path):
    """VERDICT r3 'wrong' #2 (reference parity DefaultLoggingStrategy.java:27-36):
    the streaming-tail DLQ's DEFAULT payload carries schema + opted-in key
    columns only — field values (the `content` payload) never leak; 'full' is
    explicit opt-in."""
    import json

    from pyspark.sql import functions as F

    events = gen_change_events(spark, n_events=400, n_keys=20, seed=13)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(4)) == 0, F.lit("X")).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)

    dlq = str(tmp_path / "dlq_safe")
    res = apply_batch(
        poisoned, table, batch_id=0, dlq_path=dlq, dlq_keys=("repo", "path")
    )
    assert res.rows_bad == 100
    rows = spark.read.parquet(dlq).collect()
    assert len(rows) == 100
    contents = {
        r["content"]
        for r in poisoned.filter("op = 'X' AND content IS NOT NULL").collect()
    }
    for r in rows:
        p = json.loads(r["payload"])
        assert set(p) == {"record_schema", "keys"}
        assert set(p["keys"]) == {"repo", "path"}
        for c in contents:
            assert c not in r["payload"]
        assert "redacted" in r["error"]

    # full payload is explicit opt-in (and what redrive requires)
    dlq_full = str(tmp_path / "dlq_full")
    apply_batch(
        poisoned, table, batch_id=1, dlq_path=dlq_full, dlq_payload="full"
    )
    full_rows = spark.read.parquet(dlq_full).collect()
    assert any(json.loads(r["payload"]).get("content") in contents for r in full_rows)

    # unknown key column / unknown mode fail loudly
    import pytest

    from pocket_etl_spark.schema import check_dlq_payload

    bad = poisoned.filter("op = 'X'")
    with pytest.raises(ValueError, match="unknown DLQ key columns"):
        check_dlq_payload("redacted", ("nope",), bad.columns)
    with pytest.raises(ValueError, match="unknown DLQ payload mode"):
        check_dlq_payload("yaml")


def test_dlq_undecodable_raw_value_rides_in_default_payload(spark, tmp_table_path, tmp_path):
    """The documented redaction exception: an UNDECODABLE envelope record's
    _raw_value must surface in the (otherwise redacted) DLQ payload — without
    it the record is unrecoverable."""
    from pocket_etl_spark.streaming.envelope import decode_kafka_envelope, encode_kafka_envelope

    events = gen_change_events(spark, n_events=100, n_keys=10, seed=3)
    enc = encode_kafka_envelope(events)
    poison = spark.createDataFrame(
        [(b"k", b"{never json")], "key binary, value binary"
    )
    decoded = decode_kafka_envelope(enc.unionByName(poison))
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq_env")
    res = apply_batch(decoded, table, batch_id=0, dlq_path=dlq)
    assert res.rows_bad == 1
    row = spark.read.parquet(dlq).collect()[0]
    assert "{never json" in row["payload"]
    # but the well-formed fields of OTHER records never leaked
    assert "repo_0" not in row["payload"]


def test_dlq_clean_batch_single_upstream_execution(spark, tmp_table_path, tmp_path):
    """VERDICT r3 'wrong' #3: with dlq_path set, the invalid count folds into
    the one stats pass — the upstream executes exactly once per batch (clean
    OR poisoned), pinned by counting mapInPandas partition executions."""
    import os
    import uuid

    from pyspark.sql import functions as F

    marker_dir = str(tmp_path / "execs")
    os.makedirs(marker_dir)

    def counting(it):
        with open(os.path.join(marker_dir, uuid.uuid4().hex), "w"):
            pass
        yield from it

    events = (
        gen_change_events(spark, n_events=2000, n_keys=100, seed=17)
        .repartition(4)
    )
    counted = events.mapInPandas(counting, events.schema)

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    apply_batch(counted, table, batch_id=0, dlq_path=str(tmp_path / "dlq"))
    assert len(os.listdir(marker_dir)) == 4  # one execution per partition

    # poisoned batch: DLQ write reads the cache, still one upstream execution
    for f in os.listdir(marker_dir):
        os.remove(os.path.join(marker_dir, f))
    poisoned = (
        gen_change_events(spark, n_events=2000, n_keys=100, seed=18)
        .withColumn(
            "op",
            F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit("X")).otherwise(F.col("op")),
        )
        .repartition(4)
    )
    counted2 = poisoned.mapInPandas(counting, poisoned.schema)
    res = apply_batch(counted2, table, batch_id=1, dlq_path=str(tmp_path / "dlq2"))
    assert res.rows_bad == 200
    assert len(os.listdir(marker_dir)) == 4


def test_unknown_dlq_payload_rejected_on_a_clean_batch(spark, tmp_table_path):
    """A mistyped DLQ payload mode fails before any Spark job, not mid-stream
    at the first batch that happens to hold an invalid event."""
    import pytest

    events = gen_change_events(spark, n_events=200, n_keys=20, seed=19)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    with pytest.raises(ValueError, match="unknown DLQ payload mode"):
        apply_batch(events, table, batch_id=0, dlq_path="unused", dlq_payload="ful")
    assert table.current_version() == 0


def test_unknown_dlq_keys_rejected_on_a_clean_batch(spark, tmp_table_path):
    """A mistyped DLQ key column fails before any Spark job, not mid-stream
    at the first batch that happens to hold an invalid event."""
    import pytest

    events = gen_change_events(spark, n_events=200, n_keys=20, seed=19)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    with pytest.raises(ValueError, match=r"unknown DLQ key columns \['nope'\]"):
        apply_batch(events, table, batch_id=0, dlq_path="unused", dlq_keys=("nope",))
    assert table.current_version() == 0


def test_metrics_record_per_commit_not_per_replay(spark, tmp_table_path, monkeypatch):
    """Each committed batch leaves one metrics record keyed by its version; a
    replay fenced early or inside the merge writes none."""
    events = gen_change_events(spark, n_events=600, n_keys=40, seed=27)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    assert table.read_metrics().count() == 0
    first = events.filter("lsn <= 300")
    res = apply_batch(first, table, batch_id=0, query_id="q")
    assert (res.rows_in, res.rows_bad, res.rows_applied) == (300, 0, 300)

    assert not apply_batch(first, table, batch_id=0, query_id="q").merge.committed
    # skip the early fence so the merge's own watermark check fences it
    monkeypatch.setattr(table, "last_batch_id", lambda query_id="default": -1)
    inner = apply_batch(first, table, batch_id=0, query_id="q")
    assert inner.merge.stats == {"fenced": True}
    monkeypatch.undo()
    apply_batch(events.filter("lsn > 300"), table, batch_id=1, query_id="q")

    rows = sorted(table.read_metrics().collect(), key=lambda r: r["version"])
    assert [(r["version"], r["batch_id"], r["query_id"]) for r in rows] == [
        (1, 0, "q"), (2, 1, "q")
    ]
    assert [(r["rows_in"], r["min_lsn"], r["max_lsn"]) for r in rows] == [
        (300, 1, 300), (300, 301, 600)
    ]
    assert rows[0]["buckets_rewritten"] == len(res.merge.touched_buckets)
    # files_written is each commit's part files on disk, and every one of
    # them is in the commit's manifest (no empty file nothing references)
    import os

    for r in rows:
        rel = os.path.join("data", f"v{r['version']:012d}")
        snap = os.path.join(tmp_table_path, rel)
        on_disk = [f for f in os.listdir(snap) if f.endswith(".parquet")]
        listed = [f for f in table._manifest(r["version"])["files"] if os.path.dirname(f) == rel]
        assert sorted(os.path.join(rel, f) for f in on_disk) == sorted(listed), r
        assert r["files_written"] == len(on_disk) > 0, (r, on_disk)


def test_fold_is_reported_in_the_metrics_record(spark, tmp_table_path, monkeypatch):
    """A merge that folds reports it: ``buckets_folded`` in its stats and its
    metrics record. The fold is part of the batch's one commit, and the state
    stays the oracle's."""
    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_FOLD_AT", 1)  # fold a bucket once it spans 2 commits
    events = gen_change_events(spark, n_events=600, n_keys=40, seed=31)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    first = apply_batch(events.filter("lsn <= 300"), table, batch_id=0)
    assert first.merge.stats["buckets_folded"] == 0
    res = apply_batch(events.filter("lsn > 300"), table, batch_id=1)
    folded = res.merge.stats["buckets_folded"]
    assert folded > 0 and table.current_version() == res.merge.version
    rows = sorted(table.read_metrics().collect(), key=lambda r: r["version"])
    assert [(r["version"], r["buckets_folded"]) for r in rows] == [(1, 0), (2, folded)]
    assert_state_equals_oracle(table, events.toPandas())


def test_replayed_batch_replaces_its_dlq_rows(spark, tmp_table_path, tmp_path, monkeypatch):
    """A batch that fails after its DLQ write, before its commit, is replayed:
    the DLQ then holds each of its invalid rows once, not once per attempt.
    Another query's batch of the same id keeps its own rows beside them."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from pocket_etl_spark.cdc.redrive import read_dlq

    events = gen_change_events(spark, n_events=100, n_keys=20, seed=37)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit("X")).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    real_merge = ParquetLakeTable.merge

    def failing_merge(self, *args, **kwargs):
        raise RuntimeError("injected failure after the DLQ write")

    monkeypatch.setattr(ParquetLakeTable, "merge", failing_merge)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(poisoned, table, batch_id=0, query_id="q", dlq_path=dlq, dlq_payload="full")
    monkeypatch.setattr(ParquetLakeTable, "merge", real_merge)
    assert table.current_version() == 0
    res = apply_batch(poisoned, table, batch_id=0, query_id="q", dlq_path=dlq, dlq_payload="full")
    assert res.merge.committed and res.rows_bad == 10
    assert not apply_batch(poisoned, table, batch_id=0, query_id="q", dlq_path=dlq).merge.committed
    invalid = list(range(10, 101, 10))
    assert sorted(r["lsn"] for r in read_dlq(spark, dlq).collect()) == invalid

    other = ParquetLakeTable(spark, str(tmp_path / "other"), num_buckets=4)
    apply_batch(poisoned, other, batch_id=0, query_id="q2", dlq_path=dlq, dlq_payload="full")
    assert sorted(r["lsn"] for r in read_dlq(spark, dlq).collect()) == sorted(invalid * 2)
    assert not [f for f in os.listdir(dlq) if f.startswith("_")]  # no staging dir left


def _steady_batch(spark, path, dlq):
    """A table holding ``lsn <= 1000`` of a 2,000-event log (30% hot key, a
    NULL op at every 100th lsn, a tunnel field on every event), and the rest
    of the log: a steady batch above every stored file's lsn bound, with 10
    invalid rows and a tunnel field."""
    from pyspark.sql import functions as F

    from pocket_etl_spark.datagen import with_schema_evolution

    events = with_schema_evolution(
        gen_change_events(spark, n_events=2000, n_keys=200, seed=43, hot_key_fraction=0.3),
        from_lsn=1,
    ).withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(100)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, path, num_buckets=32)
    apply_batch(events.filter("lsn <= 1000"), table, batch_id=0, dlq_path=dlq)
    return table, events.filter("lsn > 1000")


def test_steady_apply_batch_runs_two_spark_jobs(spark, tmp_table_path, tmp_path):
    """A steady commit runs two Spark jobs: the one stats pass, whose action
    also brings back the invalid rows as DLQ records, and the merge's write.
    The DLQ is written on the driver, the write tasks pick each key's
    winner, and a steady batch of at most ``_TASK_ROWS`` valid events is
    picked by one task with no exchange and written on the driver, as the
    commit's one part file: no Hadoop committer, so no ``.crc``,
    ``_SUCCESS`` or ``_temporary`` beside it."""
    import os

    dlq = str(tmp_path / "dlq")
    table, steady = _steady_batch(spark, tmp_table_path, dlq)
    sc = spark.sparkContext
    group = f"steady-{tmp_path.name}"
    sc.setJobGroup(group, "steady apply_batch")
    try:
        res = apply_batch(steady, table, batch_id=1, dlq_path=dlq)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.rows_bad == 10 and res.merge.committed
    assert res.merge.stats["stored_files_scanned"] == 0
    assert res.merge.stats["buckets_folded"] == 0
    assert res.merge.stats["files_written"] == 1
    assert "new_col_score" in table.schema().fieldNames()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    [name] = os.listdir(os.path.join(table.path, "data", f"v{res.merge.version:012d}"))
    assert name.startswith("part-") and name.endswith(".parquet"), name


def test_steady_apply_batch_py4j_round_trips_are_bounded(
    spark, tmp_table_path, tmp_path, monkeypatch
):
    """Building a commit's plans costs py4j round trips, each a blocking
    call into the JVM. A steady ``apply_batch`` makes 557 of them; the
    ceiling leaves about 18% headroom. Object-release commands are not
    counted: Python's garbage collector sends them whenever it happens to
    run."""
    from py4j.java_gateway import GatewayClient

    dlq = str(tmp_path / "dlq")
    table, steady = _steady_batch(spark, tmp_table_path, dlq)
    calls = []
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    res = apply_batch(steady, table, batch_id=1, dlq_path=dlq)
    monkeypatch.undo()
    assert res.merge.committed and res.rows_bad == 10
    assert len(calls) <= 657, len(calls)


def test_steady_apply_batch_compiles_no_code(spark, tmp_table_path, tmp_path):
    """Whole-stage codegen writes literals into the Java it generates and
    caches the compiled classes by that source. A steady commit's plans
    hold no per-batch value: the delta's ``_version`` and the DLQ records'
    ``batch_id`` and ``ts`` are set where the rows leave Spark. So the third
    steady ``apply_batch`` of a schema (WAL files in, invalid rows, a
    tunnel field) compiles no class, and nor does a direct merge written on
    the driver after one like it."""
    from plans import compiled_classes
    from pyspark.sql import functions as F

    from pocket_etl_spark.datagen import with_schema_evolution

    events = with_schema_evolution(
        gen_change_events(spark, n_events=2000, n_keys=200, seed=73, hot_key_fraction=0.3),
        from_lsn=1,
    ).withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(100)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    wal = []
    for n, (lo, hi) in enumerate([(0, 800), *((800 + 200 * i, 1000 + 200 * i) for i in range(6))]):
        batch = events.filter(f"lsn > {lo} and lsn <= {hi}")
        if n > 3:  # direct merges: no invalid rows, no envelope columns
            batch = batch.filter("op is not null").drop("ts", "extras")
        batch.write.parquet(str(tmp_path / f"wal{n}"))
        wal.append(str(tmp_path / f"wal{n}"))
    dlq = str(tmp_path / "dlq")
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=32)
    for n in range(4):
        before = compiled_classes(spark)
        res = apply_batch(spark.read.parquet(wal[n]), table, batch_id=n, dlq_path=dlq)
        assert res.rows_bad and res.merge.stats["files_written"] == 1, res.merge.stats
    assert compiled_classes(spark) - before == 0
    for n in range(4, 7):
        before = compiled_classes(spark)
        res = table.merge(spark.read.parquet(wal[n]), batch_id=n)
        assert res.stats["files_written"] == 1 and not res.stats["buckets_folded"], res.stats
        assert not res.stats["stored_files_scanned"], res.stats
    assert compiled_classes(spark) - before == 0


@pytest.mark.parametrize("bound", [None, 2], ids=["driver", "spark"])
def test_dlq_records_carry_their_batch_id_and_write_time(
    spark, tmp_table_path, tmp_path, monkeypatch, bound
):
    """``schema.dlq_records`` leaves ``batch_id`` and ``ts`` out of the
    plan; they are set on the records the driver collects, or by Spark's
    write past ``DLQ_DRIVER_ROWS`` (lowered to 2 here). Either way each
    batch's DLQ rows carry its batch id and a ``ts`` inside the call's
    wall-clock window."""
    import time

    from pyspark.sql import functions as F

    from pocket_etl_spark.cdc import apply

    if bound is not None:
        monkeypatch.setattr(apply, "DLQ_DRIVER_ROWS", bound)
    kinds = []
    write_dlq = apply.write_dlq

    def spy(records, *args):
        kinds.append(type(records).__name__)
        return write_dlq(records, *args)

    monkeypatch.setattr(apply, "write_dlq", spy)
    events = gen_change_events(spark, n_events=400, n_keys=40, seed=79, partitions=4)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(8)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    window = {}
    for batch_id, (lo, hi) in [(3, (0, 200)), (7, (200, 400))]:
        start = time.time()
        res = apply_batch(
            poisoned.filter(f"lsn > {lo} and lsn <= {hi}"), table, batch_id=batch_id, dlq_path=dlq
        )
        window[batch_id] = (int(start * 1000) * 1000, int(time.time() * 1e6) + 1)
        assert res.merge.committed and res.rows_bad == 25
    assert kinds == ["Table" if bound is None else "DataFrame"] * 2
    rows = spark.read.parquet(dlq).select("batch_id", F.unix_micros("ts").alias("us")).collect()
    assert sorted(r["batch_id"] for r in rows) == [3] * 25 + [7] * 25
    for r in rows:
        lo, hi = window[r["batch_id"]]
        assert lo <= r["us"] <= hi, (r, lo, hi)


@pytest.mark.parametrize("payload", ["redacted", "full", "callable"])
def test_driver_written_dlq_reads_back_and_redrives(spark, tmp_table_path, tmp_path, payload):
    """The DLQ file written on the driver reads back as DLQ_SCHEMA, one row
    per invalid event, under the batch's address. A full-record payload (the
    ``"full"`` mode or a callable writing the record as JSON) re-drives: the
    repaired rows restore the oracle's state. A redacted one is refused."""
    import json
    import os

    from pyspark.sql import functions as F

    from pocket_etl_spark.cdc.redrive import read_dlq, redrive
    from pocket_etl_spark.schema import DLQ_SCHEMA

    events = gen_change_events(spark, n_events=400, n_keys=40, seed=47)
    poisoned = events.withColumn(
        "op", F.when(F.pmod(F.col("lsn"), F.lit(8)) == 0, F.lit(None)).otherwise(F.col("op"))
    )
    mode = payload
    if payload == "callable":
        def mode(r):
            return json.dumps({k: v for k, v in r.items() if k != "ts"})

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    res = apply_batch(poisoned, table, batch_id=0, query_id="q", dlq_path=dlq, dlq_payload=mode)
    assert res.rows_bad == 50
    [name] = os.listdir(dlq)
    assert name.startswith("dlq-") and name.endswith("-0-0.parquet"), name
    back = spark.read.parquet(dlq)
    assert back.schema == DLQ_SCHEMA
    rows = back.collect()
    assert len(rows) == 50 and {(r["batch_id"], r["stage"]) for r in rows} == {(0, "apply")}
    if payload == "redacted":
        with pytest.raises(ValueError, match="redacted"):
            read_dlq(spark, dlq)
        return
    assert sorted(r["lsn"] for r in read_dlq(spark, dlq).collect()) == list(range(8, 401, 8))

    def fix(df):
        return df.withColumn("op", F.coalesce(F.col("op"), F.lit("U")))

    assert redrive(spark, dlq, table, fix=fix).merge.committed
    assert_state_equals_oracle(table, fix(poisoned).toPandas())


def test_all_invalid_batch_lands_in_dlq_once(spark, tmp_table_path, tmp_path):
    """A batch whose every row is invalid writes each row to the DLQ once,
    leaves the table's rows as they were and still advances the watermark,
    so its replay is fenced and adds no DLQ row."""
    from pyspark.sql import functions as F

    from pocket_etl_spark.cdc.redrive import read_dlq

    events = gen_change_events(spark, n_events=300, n_keys=30, seed=53)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(events.filter("lsn <= 200"), table, batch_id=0, dlq_path=dlq)
    before = sorted(map(tuple, table.read().collect()))
    bad = events.filter("lsn > 200").withColumn("op", F.lit("X"))
    res = apply_batch(bad, table, batch_id=1, dlq_path=dlq, dlq_payload="full")
    assert (res.rows_in, res.rows_bad, res.rows_applied) == (100, 100, 0)
    assert res.merge.committed and res.merge.touched_buckets == []
    assert table.last_batch_id() == 1
    assert sorted(map(tuple, table.read().collect())) == before
    assert not apply_batch(bad, table, batch_id=1, dlq_path=dlq).merge.committed
    assert sorted(r["lsn"] for r in read_dlq(spark, dlq).collect()) == list(range(201, 301))


def test_invalid_rows_past_the_driver_bound_are_written_by_spark(
    spark, tmp_table_path, tmp_path, monkeypatch
):
    """The stats pass brings at most ``DLQ_DRIVER_ROWS`` invalid rows of a
    batch partition to the driver. An all-invalid batch with more (the bound
    is lowered to 2 here) has Spark write its DLQ from the cache instead:
    each row lands once, under the batch's address, and the batch commits
    with the table's rows unchanged. A replay of an attempt that failed after
    its DLQ write replaces those files."""
    import os

    from pyspark.sql import functions as F

    from pocket_etl_spark.cdc import apply
    from pocket_etl_spark.cdc.redrive import read_dlq

    monkeypatch.setattr(apply, "DLQ_DRIVER_ROWS", 2)
    written = []
    write_dlq = apply.write_dlq

    def spy(records, *args):
        written.append(type(records).__name__)
        return write_dlq(records, *args)

    monkeypatch.setattr(apply, "write_dlq", spy)
    events = gen_change_events(spark, n_events=600, n_keys=60, seed=59, partitions=4)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(events.filter("lsn <= 200"), table, batch_id=0, dlq_path=dlq)
    before = sorted(map(tuple, table.read().collect()))
    bad = events.filter("lsn > 200").withColumn("op", F.lit("X"))

    def fail(*args, **kwargs):
        raise RuntimeError("merge failed")

    with monkeypatch.context() as m:
        m.setattr(table, "merge", fail)
        with pytest.raises(RuntimeError, match="merge failed"):
            apply_batch(bad, table, batch_id=1, dlq_path=dlq, dlq_payload="full")
    res = apply_batch(bad, table, batch_id=1, dlq_path=dlq, dlq_payload="full")
    assert written == ["DataFrame", "DataFrame"]
    assert (res.rows_in, res.rows_bad, res.merge.committed) == (400, 400, True)
    assert table.last_batch_id() == 1
    assert sorted(map(tuple, table.read().collect())) == before
    assert sorted(r["lsn"] for r in read_dlq(spark, dlq).collect()) == list(range(201, 601))
    names = os.listdir(dlq)
    assert not [f for f in names if f.startswith("_")], names
    assert all(f.startswith("dlq-") and "-1-" in f for f in names), names


@pytest.mark.parametrize("fault", ["temp-written", "renamed"])
def test_driver_write_fault_leaves_the_batch_to_its_replay(
    spark, tmp_table_path, monkeypatch, fault
):
    """A steady batch's one part file is written on the driver: pyarrow
    writes a hidden temp file, which is then renamed into the commit's
    version dir. An attempt that fails after the temp file is written, or
    after the rename, fails before the commit: HEAD and the watermark stay
    where they were, and no temp file is left. The replay commits the batch,
    equals the LWW oracle, and leaves only its own part file in the version
    dir."""
    import os

    from pocket_etl_spark import lake

    events = gen_change_events(spark, n_events=1200, n_keys=120, seed=61)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    apply_batch(events.filter("lsn <= 600"), table, batch_id=0)
    head = table.current_version()
    replace = os.replace

    def failing(src, dst):
        if os.path.basename(src).startswith("_part-"):
            if fault == "renamed":
                replace(src, dst)
            raise OSError(f"injected after the part file was {fault}")
        return replace(src, dst)

    steady = events.filter("lsn > 600")
    with monkeypatch.context() as m:
        m.setattr(os, "replace", failing)
        with pytest.raises(OSError, match="injected"):
            apply_batch(steady, table, batch_id=1)
    assert (table.current_version(), table.last_batch_id()) == (head, 0)
    version_dir = os.path.join(table.path, "data", f"v{head + 1:012d}")
    assert not [f for f in os.listdir(version_dir) if f.startswith("_")], os.listdir(version_dir)

    res = apply_batch(steady, table, batch_id=1)
    assert res.merge.committed and res.merge.version == head + 1
    assert (table.current_version(), table.last_batch_id()) == (head + 1, 1)
    [part] = [f for f in table._manifest(head + 1)["files"] if lake._commit_of(f) == head + 1]
    assert os.listdir(version_dir) == [os.path.basename(part)]
    assert_state_equals_oracle(table, events.toPandas())


def test_wide_batch_above_the_driver_byte_bound_is_written_by_spark(
    spark, tmp_table_path, monkeypatch
):
    """``_TASK_ROWS`` bounds a one-task write's rows, not its bytes, and a
    one-task write comes to the driver. So the stats pass (and the merge's
    probe, without a hint) sums the batch's payload bytes, and a batch above
    ``_DRIVER_BYTES`` is written by Spark: here ~4 KB rows against a bound
    lowered to 100 KB, through ``apply_batch`` and a direct merge. Below the
    bound the same rows are written on the driver. Every state equals the
    LWW oracle."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from pocket_etl_spark import lake

    events = gen_change_events(spark, n_events=900, n_keys=90, seed=67)
    wide = events.withColumn("content", F.concat("content", F.lit("x" * 4000)))
    writes = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    assert apply_batch(wide.filter("lsn <= 300"), table, batch_id=0).merge.committed
    assert writes == []
    monkeypatch.setattr(lake, "_DRIVER_BYTES", 100_000)
    res = apply_batch(wide.filter("lsn > 300 AND lsn <= 600"), table, batch_id=1)
    assert res.merge.committed and len(writes) == 1
    assert_state_equals_oracle(table, wide.filter("lsn <= 600").toPandas())
    res = table.merge(wide.filter("lsn > 600").drop("ts", "extras"), batch_id=2)
    assert res.committed and len(writes) == 2
    assert_state_equals_oracle(table, wide.toPandas())
