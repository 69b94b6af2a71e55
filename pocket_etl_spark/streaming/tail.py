"""The CDC tail: readStream over an append-only WAL → foreachBatch apply → lake MERGE.

Re-expresses the reference's run-to-exhaustion micro-batch shape (SQS tail consumed in
capped batches with commit-on-close, SqsExtractor.java:115-126,239-247) as a real
Structured Streaming query:

- source: file-source over the WAL directory (parquet events). In production the
  same ``apply_batch`` body runs unchanged against a Kafka/binlog source — the engine
  only sees a DataFrame per micro-batch.
- ``maxFilesPerTrigger`` ≈ the reference's ``withBatchSizeLimit`` source-side cap.
- exactly-once = Spark checkpoint (offsets) + the lake's batch-id fencing: Spark
  guarantees at-least-once foreachBatch with a monotone batch_id; the manifest
  watermark turns replays into no-ops. Either side alone is insufficient; together
  they give exactly-once state, the streaming generalization of
  ParallelLoader.withOnCloseCallback + SQS delete-on-close.
- watermark/late data: NOT needed for correctness — the LWW merge is order-independent
  (late events merge by key; lower LSNs lose), mirroring the reference's answer to
  unordered streams (EtlStream.java:80-82 + RedshiftLoadStrategy.java:21-75).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pocket_etl_spark.cdc.apply import apply_batch
from pocket_etl_spark.lake import ParquetLakeTable
from pocket_etl_spark.schema import EVENT_SCHEMA, DlqPayload


def read_wal_stream(
    spark: SparkSession,
    wal_dir: str,
    schema=EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(wal_dir)


def start_tail(
    spark: SparkSession,
    wal_dir: str,
    table: ParquetLakeTable,
    checkpoint_dir: str,
    query_id: str = "cdc_tail",
    dlq_path: str | None = None,
    dlq_keys: tuple[str, ...] = (),
    dlq_payload: DlqPayload = "redacted",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    wal_schema=EVENT_SCHEMA,
) -> StreamingQuery:
    """Start the CDC tail query.

    ``available_now=True`` drains the current WAL then stops (batch replay / tests);
    ``processing_time`` runs continuously. ``transform`` is an optional pre-apply
    DataFrame→DataFrame hook (the fluent pipeline's transform chain plugs in here) —
    e.g. ``streaming/envelope.decode_kafka_envelope`` when the WAL carries
    Kafka-shaped ``(key, value)`` byte pairs (``wal_schema=KAFKA_ENVELOPE_SCHEMA``)
    instead of typed event rows. Each micro-batch runs ``apply_batch`` (resolved
    through this module, so a test can patch it to inject a crash). Without
    ``dlq_path``, a batch holding invalid events fails the query (apply_batch
    raises) instead of dropping them. Each
    committed batch leaves its metrics record (``table.read_metrics()``);
    Spark's own per-trigger progress is on the returned query's
    ``recentProgress``.
    """
    stream = read_wal_stream(
        spark, wal_dir, schema=wal_schema, max_files_per_trigger=max_files_per_trigger
    )

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        apply_batch(
            batch_df,
            table,
            batch_id=batch_id,
            query_id=query_id,
            dlq_path=dlq_path,
            dlq_keys=dlq_keys,
            dlq_payload=dlq_payload,
        )

    writer = (
        stream.writeStream.foreachBatch(_body)
        .queryName(query_id)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_tail_to_exhaustion(
    spark: SparkSession,
    wal_dir: str,
    table: ParquetLakeTable,
    checkpoint_dir: str,
    timeout_sec: int = 300,
    **kwargs,
) -> None:
    """Drain the WAL and return — the reference's run-to-exhaustion ``run()``
    (EtlStream.java:237-245) over a stream-shaped source."""
    q = start_tail(spark, wal_dir, table, checkpoint_dir, available_now=True, **kwargs)
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
