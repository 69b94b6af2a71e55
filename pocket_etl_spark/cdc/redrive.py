"""DLQ re-drive: consume a DLQ directory, let the operator fix the records,
re-apply them through the normal exactly-once merge path.

Closes the loop the reference's recoverable-error channel implies
(LogAsErrorEtlConsumer.java:34-92 routes failures to a logger; a human fixes
and re-submits) — here the re-submission is first-class: ``redrive`` parses the
DLQ payloads back into typed event rows, runs an optional caller-supplied
``fix`` transform, and hands the result to ``apply_batch`` under its own
query_id, so the re-drive is itself fenced, leaves its own metrics record,
and can route still-bad rows to a fresh DLQ.

One DLQ record schema (batch_id, stage, error, payload, ts), one payload
policy and one writer across surfaces: the streaming tail / apply DLQ
(cdc/apply.apply_batch) and the fluent API's DLQ (etl.EtlStream.run,
RowSinkLoader) all build it with schema.dlq_records and write it with
cdc/apply.write_dlq, so this module consumes any of them. Apply files are
``dlq-<hash(query_id)>-<batch_id>-<n>.parquet``; fluent ones are
``dlq-<hash(stream name)>-<uuid>-<n>.parquet`` with a null batch_id (a fluent
run is not a fenced micro-batch) — see the fencing note on ``redrive``.

Requires full-record payloads (``apply_batch(dlq_payload="full")`` / fluent
``with_object_logger("full")``): the PII-safe default payload deliberately
does not carry field values, so a redacted DLQ cannot be re-driven from the
DLQ alone — re-extract from the source using the opted-in key columns
instead. ``read_dlq`` refuses redacted payloads loudly (``schema
.is_redacted_payload``) rather than re-applying rows of nulls.
Undecodable-envelope records (streaming/envelope.py) surface their
``_raw_value`` so a ``fix`` can re-decode them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pocket_etl_spark.cdc.apply import ApplyResult, apply_batch
from pocket_etl_spark.schema import EVENT_SCHEMA, is_redacted_payload


def read_dlq(
    spark: SparkSession,
    dlq_path: str,
    schema: T.StructType = EVENT_SCHEMA,
    stage: str | None = None,
    batch_ids: list[int] | None = None,
) -> DataFrame:
    """Parse full-payload DLQ records back into typed event rows.

    Output = one row per DLQ record with ``schema``'s columns plus
    ``_raw_value`` (undecodable-envelope payload, null otherwise) and
    ``_dlq_batch_id`` / ``_dlq_error`` lineage columns. Raises ValueError if
    any selected record carries the redacted default payload — those hold no
    field values to re-apply."""
    # mergeSchema: a directory may mix layouts (a pre-unification fluent DLQ
    # wrote (stream, error, payload, ts); the unified schema is (batch_id,
    # stage, error, payload, ts)) — a single sampled footer would otherwise
    # either miss `stage`/`batch_id` entirely or surface legacy records with
    # stage=NULL and silently exclude them from the stage filter.
    df = spark.read.option("mergeSchema", "true").parquet(dlq_path)
    if "stream" in df.columns:  # legacy fluent layout → adapt
        stage_col = (
            F.coalesce(F.col("stage"), F.col("stream"))
            if "stage" in df.columns
            else F.col("stream")
        )
        df = df.withColumn("stage", stage_col).drop("stream")
    if "batch_id" not in df.columns:  # legacy records carry no replay cursor
        df = df.withColumn("batch_id", F.lit(None).cast("long"))
    if stage is not None:
        df = df.filter(F.col("stage") == stage)
    if batch_ids is not None:
        df = df.filter(F.col("batch_id").isin(*[int(b) for b in batch_ids]))
    redacted = df.filter(is_redacted_payload(F.col("payload")))
    if redacted.limit(1).count() > 0:
        raise ValueError(
            "read_dlq: DLQ records carry the redacted default payload (no field "
            "values). Re-drive needs apply_batch(dlq_payload='full'); for "
            "redacted DLQs re-extract the records from the source by key."
        )
    parse_schema = T.StructType(list(schema.fields))
    if "_raw_value" not in {f.name for f in parse_schema.fields}:
        parse_schema = T.StructType(
            list(parse_schema.fields) + [T.StructField("_raw_value", T.StringType(), True)]
        )
    return df.select(
        F.from_json(F.col("payload"), parse_schema).alias("_r"),
        F.col("batch_id").alias("_dlq_batch_id"),
        F.col("error").alias("_dlq_error"),
    ).select("_r.*", "_dlq_batch_id", "_dlq_error")


def redrive(
    spark: SparkSession,
    dlq_path: str,
    table,
    schema: T.StructType = EVENT_SCHEMA,
    fix: Callable[[DataFrame], DataFrame] | None = None,
    query_id: str = "redrive",
    stage: str | None = None,
    batch_ids: list[int] | None = None,
    dlq_path_out: str | None = None,
    **apply_kwargs,
) -> ApplyResult:
    """Re-apply a DLQ directory's records through ``apply_batch``.

    ``fix`` sees the parsed event rows (plus ``_raw_value`` /
    ``_dlq_batch_id`` / ``_dlq_error`` context columns) and returns the
    corrected frame; the context columns are dropped before the merge if the
    fix kept them.

    Fencing (ADVICE r4): when every selected record carries a batch id, the
    re-drive's batch id is the MAX input ``_dlq_batch_id`` and records at or
    below the ``query_id`` watermark are filtered out before the merge — the
    watermark doubles as the DLQ consumption cursor, so re-running a SUCCEEDED
    re-drive is a fenced no-op (no spurious re-stamps into the change feed),
    and a later re-drive of the same directory consumes only the new batches.
    Use one ``query_id`` per DLQ directory — the cursor is per query_id.
    Records with a NULL batch id (fluent-API DLQs) carry no replay cursor:
    re-running a selection containing them re-applies the null-id rows —
    idempotent on table STATE via the LWW guard, but incoming-wins-on-tie
    re-stamps identical rows with a new ``_version``, so change-feed
    consumers see value-identical upserts; select explicitly with
    ``batch_ids``/``stage`` to bound that. Batch-carrying records in the
    SAME selection keep their cursor: they are fenced against the watermark
    exactly as in cursor mode, and the re-drive's batch id advances past
    both the max input batch and the current watermark.

    Rows still invalid after the fix route to ``dlq_path_out`` when provided
    (a fresh directory — never looped back into the input DLQ by default);
    with ``dlq_path_out=None`` the re-drive RAISES if any row is still
    invalid (ADVICE r4: silently dropping them while reporting rows_bad=0
    would commit the watermark over lost records) — apply_batch enforces
    that rule for every caller without a DLQ, before anything commits."""
    events = read_dlq(spark, dlq_path, schema=schema, stage=stage, batch_ids=batch_ids)
    if fix is not None:
        events = fix(events)
    # One materialization feeds the cursor aggregate AND apply_batch: without
    # it an expensive fix() re-executes per action, and a non-deterministic
    # fix() could hand apply_batch different rows than the cursor aggregate
    # saw (DLQ selections are small by nature). A local checkpoint truncates
    # the lineage, so fix() runs exactly once — unlike persist(), whose
    # evicted blocks would recompute it.
    events = events.localCheckpoint()
    last = table.last_batch_id(query_id)
    if "_dlq_batch_id" in events.columns:
        ids = events.agg(
            F.max("_dlq_batch_id").alias("mx"),
            F.sum(
                F.when(F.col("_dlq_batch_id").isNull(), 1).otherwise(0)
            ).alias("nulls"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    else:  # fix dropped the lineage column — no cursor to derive
        ids = {"mx": None, "nulls": 0, "n": 0}
    if ids["n"] and ids["mx"] is not None and not ids["nulls"]:
        # cursor mode: consume only batches past the watermark; the merge's
        # own fence makes a same-max re-run a committed=False no-op.
        events = events.filter(F.col("_dlq_batch_id") > F.lit(last))
        batch_id = int(ids["mx"])
    elif ids["n"] and ids["mx"] is not None:
        # mixed: one null-id (fluent) record must not strip fencing from the
        # batch-carrying records in the same directory — fence those against
        # the watermark as in cursor mode; only the cursor-less null-id rows
        # re-apply on a re-run (the documented fluent at-least-once).
        events = events.filter(
            F.col("_dlq_batch_id").isNull() | (F.col("_dlq_batch_id") > F.lit(last))
        )
        batch_id = max(int(ids["mx"]), last + 1)
    else:
        batch_id = last + 1
    return apply_batch(
        events.drop("_dlq_batch_id", "_dlq_error"),
        table,
        batch_id=batch_id,
        query_id=query_id,
        dlq_path=dlq_path_out,
        **apply_kwargs,
    )
