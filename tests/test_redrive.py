"""DLQ re-drive round trip (VERDICT r3 next-round #8): poison batch → DLQ →
fix → re-apply through apply_batch → final state matches the oracle, with the
re-drive itself fenced and PII rules enforced (redacted DLQs refuse loudly)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pocket_etl_spark.cdc.apply import apply_batch
from pocket_etl_spark.cdc.redrive import read_dlq, redrive
from pocket_etl_spark.datagen import gen_change_events
from pocket_etl_spark.lake import ParquetLakeTable
from tests.test_cdc_apply import assert_state_equals_oracle


def _poison(events):
    """Corrupt 10% of ops to 'X' (recoverable → DLQ)."""
    return events.withColumn(
        "op",
        F.when(F.pmod(F.col("lsn"), F.lit(10)) == 0, F.lit("X")).otherwise(F.col("op")),
    )


def test_redrive_round_trip_matches_oracle(spark, tmp_path):
    events = gen_change_events(spark, n_events=2000, n_keys=100, seed=23)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")

    res = apply_batch(
        _poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full"
    )
    assert res.rows_bad == 200

    # operator fixes the corruption: 'X' was an update all along
    def fix(df):
        return df.withColumn(
            "op", F.when(F.col("op") == "X", F.lit("U")).otherwise(F.col("op"))
        )

    rres = redrive(spark, dlq, table, fix=fix)
    assert rres.merge.committed and rres.rows_bad == 0
    # final state == oracle over the ORIGINAL (uncorrupted) event log: the
    # poisoned ops were all mutations of 'op' only, so fixing X→U restores the
    # same LWW outcome (X rows were I/U/D; a D corrupted to X then fixed to U
    # would differ — pin with a D-free poison set instead)
    fixed = fix(_poison(events)).toPandas()
    assert_state_equals_oracle(table, fixed)


def test_redrive_writes_one_metrics_record(spark, tmp_path):
    """A re-drive is an ordinary committed apply: it leaves exactly one metrics
    record under its own query_id, and a fenced re-run adds none."""
    events = gen_change_events(spark, n_events=300, n_keys=30, seed=41)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full")

    def fix(df):
        return df.withColumn("op", F.when(F.col("op") == "X", F.lit("U")).otherwise(F.col("op")))

    res = redrive(spark, dlq, table, fix=fix)
    redrive(spark, dlq, table, fix=fix)
    rows = table.read_metrics().filter("query_id = 'redrive'").collect()
    assert len(rows) == 1
    assert (rows[0]["version"], rows[0]["batch_id"]) == (res.merge.version, 0)
    assert (rows[0]["rows_in"], rows[0]["rows_bad"], rows[0]["rows_applied"]) == (30, 0, 30)


def test_redrive_is_fenced_and_routes_still_bad_rows(spark, tmp_path):
    events = gen_change_events(spark, n_events=1000, n_keys=50, seed=29)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full")

    # no fix: rows are STILL invalid → they land in dlq_out, not the table
    dlq_out = str(tmp_path / "dlq_out")
    r1 = redrive(spark, dlq, table, dlq_path_out=dlq_out, dlq_payload="full")
    assert r1.rows_bad == 100
    assert spark.read.parquet(dlq_out).count() == 100
    assert r1.merge.batch_id == 0  # derived from max input _dlq_batch_id
    state_after = table.read().count()
    version_after = table.current_version()

    # re-running a SUCCEEDED redrive is a fenced no-op (ADVICE r4): the
    # query_id watermark doubles as the DLQ consumption cursor, so the same
    # selection derives the SAME batch id, the already-consumed records are
    # filtered out, and nothing is re-stamped into the change feed
    r2 = redrive(spark, dlq, table, dlq_path_out=str(tmp_path / "dlq_out2"), dlq_payload="full")
    assert not r2.merge.committed
    assert r2.merge.batch_id == r1.merge.batch_id
    assert table.read().count() == state_after
    assert table.current_version() == version_after

    # a NEW DLQ batch after the cursor IS consumed by the next redrive
    more = gen_change_events(spark, n_events=200, n_keys=20, seed=31)
    apply_batch(_poison(more), table, batch_id=1, dlq_path=dlq, dlq_payload="full")
    r3 = redrive(
        spark, dlq, table,
        fix=lambda df: df.withColumn(
            "op", F.when(F.col("op") == "X", F.lit("U")).otherwise(F.col("op"))
        ),
        dlq_payload="full",
    )
    assert r3.merge.committed and r3.merge.batch_id == 1
    # only the 20 new batch-1 rows entered the merge (batch-0 rows are past
    # the cursor); the table grew by at most those keys
    assert r3.rows_in == 20


def test_redrive_without_dlq_out_raises_on_still_invalid(spark, tmp_path):
    """ADVICE r4 (medium): with dlq_path_out=None, still-invalid rows must
    never be silently dropped under a committed watermark — the re-drive
    raises before merging anything."""
    events = gen_change_events(spark, n_events=500, n_keys=30, seed=37)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full")
    before = table.last_batch_id("redrive")
    with pytest.raises(ValueError, match="still invalid"):
        redrive(spark, dlq, table)  # no fix, no dlq_path_out
    assert table.last_batch_id("redrive") == before  # nothing committed


def test_redrive_runs_nondeterministic_fix_once(spark, tmp_path, monkeypatch):
    """The frame redrive hands to apply_batch has its lineage truncated: a
    non-deterministic fix() (here a rand() column) ran once, when the batch
    was materialized, and no later action can re-evaluate it."""
    import pocket_etl_spark.cdc.redrive as redrive_mod

    events = gen_change_events(spark, n_events=300, n_keys=20, seed=43)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full")

    def fix(df):
        return df.withColumn(
            "op", F.when(F.col("op") == "X", F.lit("U")).otherwise(F.col("op"))
        ).withColumn("noise", F.rand(7))

    handed = []
    monkeypatch.setattr(
        redrive_mod, "apply_batch", lambda df, *a, **kw: handed.append(df)
    )
    redrive(spark, dlq, table, fix=fix)
    assert len(handed) == 1 and "noise" in handed[0].columns
    analyzed = handed[0]._jdf.queryExecution().analyzed().toString()
    assert "rand(" not in analyzed.lower(), analyzed


def test_redrive_consumes_fluent_api_dlq(spark, tmp_path):
    """VERDICT r4 missing #2: the fluent API writes the SAME DLQ record schema
    as the tail (batch_id, stage, error, payload, ts), so read_dlq/redrive
    close the loop on transformer failures (TransformerEtlConsumer.java:90-99)."""
    from pocket_etl_spark.etl import BufferLoader, EtlStream
    from pocket_etl_spark.sources import IterableExtractor

    events = gen_change_events(spark, n_events=400, n_keys=40, seed=41)
    rows = [r.asDict() for r in events.drop("ts", "extras").collect()]

    def boom(pdf):
        if (pdf["lsn"] % 7 == 0).any():
            raise ValueError("poison partition")
        return pdf

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in events.drop("ts", "extras").schema.fields)
    stream = (
        EtlStream.extract(IterableExtractor(rows, ddl))
        .with_name("cdc_fluent")
        .map_rows(boom)
        .with_object_logger("full")
        .load(BufferLoader())
    )
    dlq = str(tmp_path / "fluent_dlq")
    res = stream.run(spark, dlq_path=dlq)
    assert res.dlq_count > 0
    # unified schema on disk
    got = spark.read.parquet(dlq)
    assert set(got.columns) == {"batch_id", "stage", "error", "payload", "ts"}
    assert got.filter(F.col("stage") == "cdc_fluent").count() == res.dlq_count

    # redrive the fluent failures into a lake table (null batch ids → the
    # documented cursor-less mode)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    schema = events.drop("ts", "extras").schema
    rres = redrive(spark, dlq, table, schema=schema, stage="cdc_fluent")
    assert rres.merge.committed and rres.rows_bad == 0
    dlq_events = (
        read_dlq(spark, dlq, schema=schema)
        .drop("_raw_value", "_dlq_batch_id", "_dlq_error")
        .toPandas()
    )
    assert_state_equals_oracle(table, dlq_events)


def test_mixed_null_and_batch_ids_keep_cursor_fencing(spark, tmp_path):
    """One null-batch-id (fluent) record in a DLQ directory must not strip the
    watermark fence from the batch-carrying records beside it: re-driving the
    mixed selection re-applies ONLY the cursor-less null-id rows, never the
    already-consumed batches."""
    events = gen_change_events(spark, n_events=1000, n_keys=50, seed=43)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq, dlq_payload="full")

    def fix(df):
        return df.withColumn(
            "op", F.when(F.col("op") == "X", F.lit("U")).otherwise(F.col("op"))
        )

    r1 = redrive(spark, dlq, table, fix=fix)
    assert r1.merge.committed and r1.merge.batch_id == 0

    # a fluent-API failure lands in the same directory with a NULL batch id
    one = gen_change_events(spark, n_events=5, n_keys=5, seed=47).drop("ts", "extras").limit(1)
    (
        one.select(
            F.lit(None).cast("long").alias("batch_id"),
            F.lit("fluent").alias("stage"),
            F.lit("boom").alias("error"),
            F.to_json(F.struct(*one.columns)).alias("payload"),
            F.current_timestamp().alias("ts"),
        ).write.mode("append").parquet(dlq)
    )

    # mixed selection: the 100 batch-0 records are past the cursor and fenced
    # out; only the single null-id record reaches the merge
    r2 = redrive(spark, dlq, table)
    assert r2.merge.committed
    assert r2.rows_in == 1
    assert r2.merge.batch_id == 1  # advanced past both max input and watermark

    # re-running re-applies only the cursor-less row (documented), never batch 0
    r3 = redrive(spark, dlq, table)
    assert r3.rows_in == 1
    assert r3.merge.batch_id == 2


def test_read_dlq_consumes_mixed_legacy_and_unified_layouts(spark, tmp_path):
    """A DLQ directory holding pre-unification fluent records
    ((stream, error, payload, ts) — no batch_id/stage) beside unified-schema
    records must stay consumable: mergeSchema + the legacy adapter map
    stream→stage and null batch_id, instead of AnalysisException or silently
    dropping legacy rows from the stage filter."""
    dlq = str(tmp_path / "dlq")
    ev = gen_change_events(spark, n_events=4, n_keys=4, seed=53).drop("ts", "extras")
    legacy = ev.limit(1).select(
        F.lit("cdc_fluent").alias("stream"),
        F.lit("old boom").alias("error"),
        F.to_json(F.struct(*ev.columns)).alias("payload"),
        F.current_timestamp().alias("ts"),
    )
    unified = ev.limit(1).select(
        F.lit(7).cast("long").alias("batch_id"),
        F.lit("cdc_fluent").alias("stage"),
        F.lit("new boom").alias("error"),
        F.to_json(F.struct(*ev.columns)).alias("payload"),
        F.current_timestamp().alias("ts"),
    )
    legacy.write.mode("append").parquet(dlq)
    unified.write.mode("append").parquet(dlq)

    got = read_dlq(spark, dlq, schema=ev.schema, stage="cdc_fluent").toPandas()
    assert len(got) == 2  # both layouts selected by the stage filter
    ids = sorted(got["_dlq_batch_id"], key=lambda x: (pd.isna(x), x))
    assert ids[0] == 7 and pd.isna(ids[1])  # legacy rows are cursor-less


def test_read_dlq_refuses_redacted_payloads(spark, tmp_path):
    events = gen_change_events(spark, n_events=500, n_keys=30, seed=31)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq_redacted")
    apply_batch(_poison(events), table, batch_id=0, dlq_path=dlq)  # default: redacted
    with pytest.raises(ValueError, match="redacted"):
        read_dlq(spark, dlq)


def test_read_dlq_parses_full_payload_and_raw_value(spark, tmp_path):
    from pocket_etl_spark.streaming.envelope import (
        decode_kafka_envelope,
        encode_kafka_envelope,
    )

    events = gen_change_events(spark, n_events=200, n_keys=20, seed=37)
    enc = encode_kafka_envelope(events)
    poison = spark.createDataFrame([(b"k", b"{never json")], "key binary, value binary")
    decoded = decode_kafka_envelope(enc.unionByName(poison))
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    dlq = str(tmp_path / "dlq")
    apply_batch(decoded, table, batch_id=0, dlq_path=dlq, dlq_payload="full")

    parsed = read_dlq(spark, dlq).toPandas()
    assert len(parsed) == 1
    assert parsed.loc[0, "_raw_value"] == "{never json"
    assert pd.isna(parsed.loc[0, "lsn"])
    assert parsed.loc[0, "_dlq_batch_id"] == 0


def test_every_dlq_surface_writes_dlq_schema(spark, tmp_path):
    """The three DLQ writers — tail/apply, fluent EtlStream.run and
    RowSinkLoader — all write exactly schema.DLQ_SCHEMA (types, not only
    column names), so read_dlq never meets a drifted surface. The fluent
    streams are unnamed: their stage is NULL and must still be a string.
    Each surface gets the same undecodable envelope record and writes the
    same redacted payload for it: the schema DDL plus its ``_raw_value``."""
    import json

    from pocket_etl_spark.etl import BufferLoader, EtlStream, RowSinkLoader
    from pocket_etl_spark.schema import DLQ_SCHEMA
    from pocket_etl_spark.streaming.envelope import (
        decode_kafka_envelope,
        encode_kafka_envelope,
    )

    events = gen_change_events(spark, n_events=200, n_keys=20, seed=53)
    poison = spark.createDataFrame([(b"k", b"{never json")], "key binary, value binary")
    decoded = decode_kafka_envelope(
        encode_kafka_envelope(_poison(events)).unionByName(poison)
    )
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_dlq = str(tmp_path / "apply_dlq")
    apply_batch(decoded, table, batch_id=0, dlq_path=apply_dlq)

    # the fluent surfaces fail the undecodable record only
    def boom(pdf):
        if pdf["_raw_value"].notna().any():
            raise ValueError("undecodable record")
        return pdf

    stream_dlq = str(tmp_path / "stream_dlq")
    EtlStream.extract(decoded).map_rows(boom).load(BufferLoader()).run(
        spark, dlq_path=stream_dlq
    )

    def put_item(rec):
        if rec["_raw_value"] is not None:
            raise ValueError("undecodable record")

    sink_dlq = str(tmp_path / "sink_dlq")
    EtlStream.extract(decoded).load(RowSinkLoader(put_item, dlq_path=sink_dlq)).run(spark)

    for d in (apply_dlq, stream_dlq, sink_dlq):
        got = spark.read.parquet(d)
        assert got.count() > 0, d
        assert got.schema == DLQ_SCHEMA, (d, got.schema.simpleString())
        raw = [
            p for p in map(json.loads, [r["payload"] for r in got.collect()])
            if "_raw_value" in p
        ]
        assert len(raw) == 1, d
        assert set(raw[0]) == {"record_schema", "_raw_value"}, (d, raw[0])
        assert raw[0]["_raw_value"] == "{never json", d
