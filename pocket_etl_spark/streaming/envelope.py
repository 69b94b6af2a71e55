"""Binlog/Kafka envelope decode for the CDC tail.

A real binlog consumer does not see typed event rows — it sees the Kafka source
contract: ``(key binary, value binary, topic, partition, offset, timestamp)``
per record, with the change event JSON-encoded in ``value``. This module is the
messageMapper step the reference applies inside its queue extractor
(SqsExtractor.java:88: one mapper turns the raw message string into the typed
record) re-expressed as a pure DataFrame transform, so the SAME ``apply_batch``
body runs unchanged behind either a file WAL or a Kafka topic:

    stream = spark.readStream.format("kafka")...load()
    start_tail(..., transform=decode_kafka_envelope)

Everything is JVM-side (``from_json`` on the cast value) — no Python touches
the per-record hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pocket_etl_spark.schema import EVENT_SCHEMA

#: Columns the Kafka source emits per record (the envelope contract).
KAFKA_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


def decode_kafka_envelope(
    df: DataFrame,
    schema: T.StructType = EVENT_SCHEMA,
    value_col: str = "value",
    keep_meta: bool = False,
) -> DataFrame:
    """Decode a Kafka-shaped envelope stream into typed change events.

    ``value`` (binary JSON) parses against ``schema`` via ``from_json``; a
    record whose value fails to parse (or is null) comes out with every event
    column null EXCEPT a preserved ``_raw_value`` string — it then fails the
    tail's validation (schema.valid_event: null lsn/op/key) and
    routes to the DLQ with its raw payload intact, instead of being silently
    dropped. Well-formed records carry no ``_raw_value`` (null), so the DLQ
    stays PII-minimal for the good path.

    ``keep_meta=True`` additionally carries ``(topic, partition, offset)``
    through as lineage columns (the file-WAL analogue is the input file name).
    """
    decoded = df.withColumn(
        "_e", F.from_json(F.col(value_col).cast("string"), schema)
    )
    # a parse failure yields a null struct OR a struct of all-null fields
    # (Spark keeps partial results in PERMISSIVE mode); treat "no lsn and no
    # op" as undecodable and preserve the raw payload for the DLQ.
    bad = F.col("_e").isNull() | (
        F.col("_e.lsn").isNull() & F.col("_e.op").isNull()
    )
    cols = [F.col(f"_e.{f.name}").alias(f.name) for f in schema.fields]
    cols.append(
        F.when(bad, F.col(value_col).cast("string"))
        .otherwise(F.lit(None).cast("string"))
        .alias("_raw_value")
    )
    if keep_meta:
        cols += [F.col("topic"), F.col("partition"), F.col("offset")]
    return decoded.select(*cols)


def encode_kafka_envelope(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Inverse of :func:`decode_kafka_envelope` — typed events → ``(key,
    value)`` byte pairs (the shape a binlog producer publishes, and what tests
    use to stage a Kafka-like WAL on the file source). ``key`` is the
    concatenated primary key so a partitioned topic preserves per-key order."""
    key_cols = key_cols or ["repo", "path"]
    return events.select(
        F.encode(F.concat_ws("\x00", *key_cols), "UTF-8").alias("key"),
        F.encode(F.to_json(F.struct(*events.columns)), "UTF-8").alias("value"),
    )
