"""Schemas: the CDC event envelope and the source-code lake table.

The reference's record is a schemaless key/value envelope with "attribute tunnelling"
(EtlStreamObject.java:39-49,122-134 — unknown fields pass through untouched). Spark is
schema-first, so we model the same thing as an explicit StructType with an
``extras: map<string,string>`` catch-all column: declared columns are typed, dynamic
fields tunnel through the map, and schema evolution promotes tunnel keys to real columns
(see pocket_etl_spark.cdc.evolution).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

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


def valid_event(key_cols: Iterable[str]) -> Column:
    """Validity of a change event: non-null key / lsn, known op. Invalid rows
    are the reference's recoverable-error channel (LogAsErrorEtlConsumer.java:
    34-92): ``cdc/apply.apply_batch`` routes them to its DLQ and
    ``ParquetLakeTable.merge`` raises on them.

    Null-safe: bare ``isin`` over a NULL op is SQL NULL, which both
    ``filter(cond)`` and ``filter(~cond)`` exclude (the row would vanish). The
    ``op IS NOT NULL`` conjunct forces FALSE instead and, unlike a
    ``coalesce`` wrapper, stays scan-pushable."""
    key_ok = F.lit(True)
    for k in key_cols:
        key_ok = key_ok & F.col(k).isNotNull()
    op = F.col(OP_COL)
    return key_ok & F.col(LSN_COL).isNotNull() & op.isNotNull() & op.isin(*OP_RANK)


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


# A DLQ payload policy, the same values on every surface: "redacted", "full",
# or a dict -> str formatter.
DlqPayload = str | Callable[[dict], str]


def check_dlq_payload(
    mode: DlqPayload, keys: Iterable[str] = (), columns: Iterable[str] | None = None
) -> None:
    """The one validation of a DLQ payload policy: ``mode`` is ``"redacted"``,
    ``"full"`` or a ``dict -> str`` callable, and every key is one of
    ``columns`` (when given). Every surface calls it before its first Spark
    job, so a typo fails the run instead of the first failing record."""
    if not (mode in ("redacted", "full") or callable(mode)):
        raise ValueError(
            f"unknown DLQ payload mode {mode!r} (expected 'redacted', 'full' "
            "or a dict -> str callable)"
        )
    if columns is not None:
        cols = set(columns)
        missing = [k for k in keys if k not in cols]
        if missing:
            raise ValueError(f"unknown DLQ key columns {missing}")


def is_redacted_payload(payload: Column) -> Column:
    """True where a DLQ payload is redacted: its first key is the schema DDL
    that ``dlq_records`` writes. A full-record payload of an event row never
    matches: events have no ``record_schema`` column by contract."""
    return payload.startswith('{"record_schema":')


def dlq_records(
    failed: DataFrame,
    stage: str | None,
    error: Column | str,
    mode: DlqPayload = "redacted",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Project failed rows onto DLQ_SCHEMA — the one record builder behind
    every DLQ writer (tail/apply ``apply_batch``, fluent ``EtlStream.run``,
    ``RowSinkLoader``), so cdc/redrive.read_dlq consumes any of them and no
    surface can drift from the schema or the payload policy. ``batch_id``
    and ``ts`` (the write time) are left NULL: ``cdc.apply.collect_dlq`` sets
    them on the records it brings to the driver, and ``cdc.apply.write_dlq``
    on the ones Spark writes. Whole-stage codegen writes literals into its
    generated Java and caches compiled classes by that source, so a
    per-batch value here (a batch id, or ``current_timestamp()``, which the
    optimizer folds into one) would compile new classes on every batch.

    ``error`` is a Column, or the name of the column of ``failed`` holding the
    per-row error; the other columns are the data columns. The payload follows
    ``mode`` (reference parity: EtlConsumerStage.java:58-63):

    - ``"redacted"`` (PII-safe default, DefaultLoggingStrategy.java:27-36 logs
      class info, never field values): the data columns' schema DDL, the
      opted-in ``keys`` columns, and ``_raw_value`` when the frame has it;
    - ``"full"``: ``to_json`` of every data column (what redrive needs);
    - a ``dict -> str`` callable: a Python UDF over the failed rows only."""
    error_col = error if isinstance(error, str) else None
    data_cols = [c for c in failed.columns if c != error_col]
    check_dlq_payload(mode, keys, data_cols)
    if mode == "redacted":
        ddl = T.StructType([f for f in failed.schema.fields if f.name in data_cols])
        parts = [F.lit(ddl.simpleString()).alias("record_schema")]
        if keys:
            parts.append(F.struct(*keys).alias("keys"))
        # an undecodable envelope record (streaming/envelope.py) is
        # unrecoverable without its raw value, and never parsed into fields
        if "_raw_value" in data_cols:
            parts.append(F.col("_raw_value"))
        payload = F.to_json(F.struct(*parts))
    elif mode == "full":
        payload = F.to_json(F.struct(*data_cols))
    else:
        payload = F.udf(lambda r: mode(r.asDict()), T.StringType())(F.struct(*data_cols))
    cols = {
        "batch_id": F.lit(None),
        "stage": F.lit(stage),
        "error": F.col(error_col) if error_col else error,
        "payload": payload,
        "ts": F.lit(None),
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
