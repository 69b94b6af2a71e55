"""Schemas: the CDC event envelope and the source-code lake table.

The reference's record is a schemaless key/value envelope with "attribute tunnelling"
(EtlStreamObject.java:39-49,122-134 — unknown fields pass through untouched). Spark is
schema-first, so we model the same thing as an explicit StructType with an
``extras: map<string,string>`` catch-all column: declared columns are typed, dynamic
fields tunnel through the map, and schema evolution promotes tunnel keys to real columns
(see pocket_etl_spark.cdc.evolution).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Ops carried by the change log. Tie-break rank makes same-LSN collisions
# deterministic: a delete beats an update beats an insert at equal LSN
# (mirrors the delete-then-insert order of the reference merge,
# RedshiftJdbcClient.java:279-291).
OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"
OP_RANK = {OP_INSERT: 1, OP_UPDATE: 2, OP_DELETE: 3}

# Primary key of the lake table (input_hint: source-code repos keyed by repo+path).
KEY_COLS = ["repo", "path"]
LSN_COL = "lsn"
OP_COL = "op"

# The CDC event envelope (the "binlog/WAL tail" record).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),
        T.StructField("repo", T.StringType(), nullable=False),
        T.StructField("path", T.StringType(), nullable=False),
        T.StructField("commit", T.StringType(), nullable=True),
        T.StructField("lang", T.StringType(), nullable=True),
        T.StructField("content", T.StringType(), nullable=True),  # null on D
        T.StructField("ts", T.TimestampType(), nullable=True),
        T.StructField("extras", T.MapType(T.StringType(), T.StringType()), nullable=True),
    ]
)

# The target lake table (input_hint shape) plus engine metadata:
#  - lsn: LSN of the last applied change for the row (MERGE guard + idempotence);
# content sha256 is the cross-engine row-identity invariant.
TABLE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), nullable=False),
        T.StructField("path", T.StringType(), nullable=False),
        T.StructField("commit", T.StringType(), nullable=True),
        T.StructField("lang", T.StringType(), nullable=True),
        T.StructField("content", T.StringType(), nullable=True),
        T.StructField("lsn", T.LongType(), nullable=False),
    ]
)

# DLQ table: per-record recoverable failures routed out of the stream
# (reference error consumer: TransformerEtlConsumer.java:90-99).
DLQ_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), nullable=True),
        T.StructField("stage", T.StringType(), nullable=True),
        T.StructField("error", T.StringType(), nullable=True),
        T.StructField("payload", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=True),
    ]
)


def dlq_records(
    failed: DataFrame,
    batch_id: int | None,
    stage: str | None,
    error: Column,
    payload: Column,
) -> DataFrame:
    """Project failed rows onto DLQ_SCHEMA — the one record builder behind
    every DLQ writer (tail/apply ``write_dlq``, fluent ``EtlStream.run``,
    ``RowSinkLoader``), so cdc/redrive.read_dlq consumes any of them and no
    surface can drift from the schema. ``ts`` is the write time."""
    cols = {
        "batch_id": F.lit(batch_id),
        "stage": F.lit(stage),
        "error": error,
        "payload": payload,
        "ts": F.current_timestamp(),
    }
    return failed.select(
        *[cols[f.name].cast(f.dataType).alias(f.name) for f in DLQ_SCHEMA.fields]
    )


# Numeric widening lattice for schema evolution (kept deliberately small; anything
# outside the lattice falls back to string).
_WIDEN_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common type of two column types under the int→long→double lattice.

    Arrays widen element-wise (array<int> ∪ array<long> = array<long> — the
    Postgres text[]/int[] analogue, SURVEY §1.2), never to string; the same
    recursion covers nested arrays."""
    if a == b:
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            widen(a.elementType, b.elementType), a.containsNull or b.containsNull
        )
    names = {a.simpleString(), b.simpleString()}
    if names <= set(_WIDEN_ORDER):
        idx = max(_WIDEN_ORDER.index(a.simpleString()), _WIDEN_ORDER.index(b.simpleString()))
        return {
            "tinyint": T.ByteType(),
            "smallint": T.ShortType(),
            "int": T.IntegerType(),
            "bigint": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
        }[_WIDEN_ORDER[idx]]
    if {"date", "timestamp"} == names:
        return T.TimestampType()
    return T.StringType()
