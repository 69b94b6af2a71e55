"""Stateful-streaming sessionization: the applyInPandasWithState operator must
agree with its declarative batch twin on closed sessions."""

import time

import pandas as pd
from pyspark.sql import functions as F

from pocket_etl_spark.streaming.sessionize import sessionize_batch, sessionize_stream


def _events(spark):
    rows = []
    # user 1: two sessions (gap 3600 > 1800), user 2: one session
    for uid, offsets in [(1, [0, 60, 120, 5000, 5060]), (2, [0, 1700, 3300])]:
        rows.extend(
            {"user_id": uid, "event_id": i, "ts_sec": 1_700_000_000 + off}
            for i, off in enumerate(offsets)
        )
    return spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts_sec").cast("timestamp")
    ).drop("ts_sec")


def test_batch_sessionize_boundaries(spark):
    out = sessionize_batch(_events(spark), gap_sec=1800).toPandas()
    out = out.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    # user 1: sessions of 3 and 2 events; user 2: one chained session of 3
    assert list(out["n_events"]) == [3, 2, 3]
    assert out.iloc[1]["session_start"] == 1_700_000_000 + 5000


def test_stream_sessionize_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    _events(spark).select("user_id", "ts").coalesce(1).write.parquet(src_dir)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src_dir)
    sessions = sessionize_stream(stream, gap_sec=1800, idle_flush_ms=1000)
    out_rows: list[pd.DataFrame] = []
    q = (
        sessions.writeStream.foreachBatch(
            lambda df, bid: out_rows.append(df.toPandas())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        # the idle-timeout flush needs a few empty micro-batches after the data
        # batch; stop once all three sessions arrived and no trigger is running,
        # so the stop never cancels a micro-batch's job
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not (
            sum(map(len, out_rows)) >= 3 and not q.status["isTriggerActive"]
        ):
            time.sleep(0.1)
    finally:
        q.stop()
    got = (
        pd.concat([p for p in out_rows if len(p)])
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    want = (
        sessionize_batch(_events(spark), gap_sec=1800)
        .drop("session_id")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
