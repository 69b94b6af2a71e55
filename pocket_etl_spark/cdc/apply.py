"""Batch apply: validate → DLQ split → promote tunnel fields → MERGE (LWW per key),
leaving one metrics record per committed batch (``<table>/_metrics``).

This is the compiled "consumer chain" the engine runs once per micro-batch — the
foreachBatch body of the streaming tail, also callable directly for batch replay.
Reference lifecycle being re-expressed: extractor → transformer (+error routing,
TransformerEtlConsumer.java:90-99) → parallel loader with close-time merge commit
(ParallelLoader.java:130-154 + RedshiftJdbcClient.java:103-148).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pocket_etl_spark.cdc.evolution import EXTRAS_COL, PROMOTE_PREFIX, promote_extras
from pocket_etl_spark.lake import MergeResult, ParquetLakeTable, write_parquet_atomic
from pocket_etl_spark.profiling import Profiler
from pocket_etl_spark.schema import LSN_COL, DlqPayload, check_dlq_payload, dlq_records, valid_event

# event-envelope columns that never reach the table
DROP_COLS = ("ts", "extras")
# The most DLQ records of one partition that ``collect_dlq`` brings to the
# driver; a surface with more has Spark write its DLQ (``write_dlq``).
DLQ_DRIVER_ROWS = 1000


@dataclass
class ApplyResult:
    merge: MergeResult
    rows_in: int
    rows_bad: int
    rows_applied: int
    duration_sec: float = 0.0
    timings: dict[str, float] = field(default_factory=dict)


def collect_dlq(records: DataFrame, batch_id: int | None) -> pa.Table:
    """Run ``records`` (DLQ records, ``DLQ_SCHEMA``) as one action that
    brings at most ``DLQ_DRIVER_ROWS`` of each partition to the driver as
    Arrow, and set their ``batch_id`` and ``ts`` (now) there, outside the
    plan (see ``schema.dlq_records``). The caller counts the records in the
    same action (an ``Observation``): when it holds fewer than that count,
    Spark writes the DLQ instead (``write_dlq`` with a DataFrame)."""
    # monotonically_increasing_id() numbers a partition's rows in its low 33 bits
    table = (
        records.withColumn("_i", F.monotonically_increasing_id() % (1 << 33))
        .filter(F.col("_i") < DLQ_DRIVER_ROWS)
        .drop("_i")
        .toArrow()
    )
    for name, value in (("batch_id", batch_id), ("ts", datetime.now(timezone.utc))):
        i = table.schema.get_field_index(name)
        stamp = pa.repeat(pa.scalar(value, table.schema.field(i).type), table.num_rows)
        table = table.set_column(i, name, stamp)
    return table


def write_dlq(
    records: pa.Table | DataFrame, dlq_path: str, query_id: str, batch_id: int | None
) -> None:
    """Write DLQ records (``DLQ_SCHEMA``) into ``dlq_path`` as the files
    ``dlq-<hash(query_id)>-<batch_id>-<n>.parquet``, replacing the files an
    earlier attempt of the batch left at that address, so a replayed batch
    leaves each invalid row once. An Arrow table
    (the records ``collect_dlq`` brought to the driver and stamped) is
    written by pyarrow, with no Spark job, as file ``-0``
    (``lake.write_parquet_atomic``: a hidden ``_``-prefixed temp file that
    readers of ``dlq_path`` skip, then a rename); a DataFrame (more records
    than the driver takes) gets its ``batch_id`` and ``ts`` as literals,
    since a Spark write compiles its plan anyway, and is written by Spark
    into a hidden staging dir whose files are moved in. The
    address's earlier files that no new one replaced are then removed. A
    crash on the way leaves the batch uncommitted, and its replay rewrites
    the address. A write without a batch id gets a fresh address."""
    qh = hashlib.sha1(query_id.encode()).hexdigest()[:12]
    addr = f"dlq-{qh}-{uuid.uuid4().hex if batch_id is None else batch_id}"
    base = os.path.join(dlq_path, addr)
    stale = set(glob.glob(f"{base}-*.parquet"))
    if isinstance(records, DataFrame):
        tmp = os.path.join(dlq_path, f"_{addr}.{uuid.uuid4().hex}")
        stamps = {"batch_id": F.lit(batch_id).cast("long"), "ts": F.current_timestamp()}
        records.withColumns(stamps).write.parquet(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "*.parquet")))
        names = [f"{base}-{n}.parquet" for n in range(len(parts))]
        for f, name in zip(parts, names):
            os.replace(f, name)
        shutil.rmtree(tmp)
    else:
        os.makedirs(dlq_path, exist_ok=True)
        names = [f"{base}-0.parquet"]
        write_parquet_atomic(records, names[0])
    for f in stale.difference(names):
        os.remove(f)


def apply_batch(
    events: DataFrame,
    table: ParquetLakeTable,
    batch_id: int | None = None,
    query_id: str = "default",
    dlq_path: str | None = None,
    dlq_keys: tuple[str, ...] = (),
    dlq_payload: DlqPayload = "redacted",
) -> ApplyResult:
    """Apply one micro-batch of change events to the lake table, exactly-once.

    A steady batch runs two Spark jobs: one stats pass over the cached
    batch (its aggregates are an ``Observation``; its action fills the cache
    and brings back the invalid rows as DLQ records) and the merge's write.
    The pass's aggregates include the table's ``batch_facts`` over the
    valid events (touched buckets, rows, lowest lsn, payload bytes), which
    go to the merge whole as its ``facts``: the merge sizes its write off
    them and runs no probe of its own. The invalid rows come to the driver
    (``collect_dlq``), and ``write_dlq`` writes them under the batch's own
    address, so a replay of a batch that failed before its commit replaces
    them; past the driver's bound Spark writes them from the cache (one more
    job), so a batch of any number of invalid rows commits.

    Phase timings are collected into a hierarchical Profiler tree (the
    reference's EtlProfilingScope.java:47-128 timer rollup) and exported
    flat on ApplyResult.timings. The merge adds its own phases under
    ``merge``: ``merge.plan``, ``merge.write`` and ``merge.commit`` (see
    ``ParquetLakeTable.merge``).

    Every committed batch leaves one metrics record (the reference's
    per-run EtlMetrics tree, EtlMetrics.java:25-53), read back with
    ``table.read_metrics()``: query_id, batch_id, version, rows_in (every
    event), rows_bad, rows_applied (the events handed to the merge),
    buckets_rewritten, files_written (part files the commit wrote),
    buckets_folded (buckets the merge folded), stored_files_scanned
    (files the merge's stored side read), min_lsn/max_lsn of
    the valid events, duration_sec, committed_at and the timings. Its counts come from the one stats pass,
    so the record costs no Spark job. A fenced replay writes none.

    ``dlq_payload``/``dlq_keys`` are the DLQ payload policy of every surface
    (``schema.dlq_records``): the PII-safe ``"redacted"`` default carries the
    schema DDL, the ``dlq_keys`` columns and an undecodable record's
    ``_raw_value``; ``"full"`` is whole-record JSON (what redrive needs); a
    ``dict -> str`` callable formats each failed record. An unknown mode or
    key column raises before any Spark job, even for a batch that would
    route nothing to the DLQ."""
    t0 = time.perf_counter()
    check_dlq_payload(dlq_payload, dlq_keys, events.columns)
    # Early fence (one driver-side manifest read): a replayed micro-batch must
    # not redo SIDE EFFECTS — without this, a fenced replay still paid the
    # full stats pass and RE-APPENDED its bad rows to the DLQ (duplicate DLQ
    # records per restart, caught by the r5 verify drive). The merge re-checks
    # the watermark under the same single-writer assumption.
    if batch_id is not None and batch_id <= table.last_batch_id(query_id):
        return ApplyResult(
            merge=MergeResult(
                False, table.current_version(), batch_id, [], {"fenced": True}
            ),
            rows_in=0,
            rows_bad=0,
            rows_applied=0,
            duration_sec=time.perf_counter() - t0,
        )
    prof = Profiler()
    # The batch is always persisted, tagged with its validity flag: the stats
    # pass and the merge both read the payload, and a non-deterministic source
    # would diverge between reads. The persist MUST happen before the stats
    # pass below: if the stats pass ran against an unpersisted frame, a
    # non-deterministic upstream could hand the merge keys whose bucket never
    # entered the facts' buckets — the merge would then write a bucket the
    # manifest loop never registers, silently dropping the update.
    with prof.scope("dlq_split"):
        valid = F.col("_valid")
        cached = events.withColumn("_valid", valid_event(table.key_cols)).persist()
        # ONE stats pass (see the docstring) observes the merge's facts, the
        # invalid-row count, the highest valid lsn and the promotable tunnel
        # keys.
        to_merge = [
            f for f in events.schema.fields if f.name not in (*DROP_COLS, "_raw_value")
        ]
        observed = Observation()
        aggs = [
            *table.batch_facts(valid, to_merge),
            F.count_if(~valid).alias("bad"),
            F.max(F.when(valid, F.col(LSN_COL))).alias("max_lsn"),
        ]
        if EXTRAS_COL in events.columns:
            promotable = F.filter(
                F.map_keys(F.col(EXTRAS_COL)), lambda k: k.startswith(PROMOTE_PREFIX)
            )
            aggs.append(
                F.array_distinct(F.flatten(F.collect_set(F.when(valid, promotable))))
                .alias("promo")
            )
        error = "validation: null key/lsn or bad op"
        if dlq_payload == "redacted":
            error += " (payload redacted; apply_batch dlq_payload='full' opts in)"

        # envelope-decode residue (streaming/envelope.decode_kafka_envelope):
        # the raw undecodable payload rides into the DLQ with the bad rows.
        def bad(frame: DataFrame) -> DataFrame:
            return dlq_records(
                frame.filter(~valid).drop("_valid"),
                "apply", F.lit(error), dlq_payload, dlq_keys,
            )

        first = bad(cached.observe(observed, *aggs))

    try:
        with prof.scope("batch_stats"):
            records = collect_dlq(first, batch_id)
            stats = observed.get
        rows_bad = int(stats["bad"])
        rows_in = int(stats["rows"]) + rows_bad

        if rows_bad:
            # Same rule as redrive: an invalid row with nowhere to go must
            # fail the batch before anything commits, never vanish under an
            # advanced watermark.
            if dlq_path is None:
                raise ValueError(
                    f"apply_batch: {rows_bad} rows are still invalid at apply "
                    "(null key/lsn or bad op) and no dlq_path is configured to "
                    "route them — merging would silently drop them. Pass "
                    "dlq_path or repair them upstream."
                )
            with prof.scope("dlq_write"):
                if records.num_rows < rows_bad:
                    records = bad(cached)
                write_dlq(records, dlq_path, query_id, batch_id)

        # Schema evolution: lift tunnel fields (extras map "new_col_*") to
        # columns before the merge widens the table schema. The raw
        # undecodable payload never reaches the merge, or it would
        # schema-evolve into the table.
        good = promote_extras(cached.filter(valid), keys=sorted(stats.get("promo") or []))
        payload = good.drop("_valid", "_raw_value", *DROP_COLS)
        with prof.scope("merge"):
            result = table.merge(
                payload, batch_id=batch_id, query_id=query_id, facts=stats, prof=prof
            )
    finally:
        cached.unpersist()
    res = ApplyResult(
        merge=result,
        rows_in=rows_in,
        rows_bad=rows_bad,
        rows_applied=rows_in - rows_bad,
        duration_sec=time.perf_counter() - t0,
        timings=prof.flat(),
    )
    if result.committed:
        table.write_metrics(
            result.version,
            {
                "query_id": query_id,
                "batch_id": batch_id,
                "version": result.version,
                "rows_in": res.rows_in,
                "rows_bad": res.rows_bad,
                "rows_applied": res.rows_applied,
                "buckets_rewritten": len(result.touched_buckets),
                "files_written": result.stats.get("files_written", 0),
                "buckets_folded": result.stats.get("buckets_folded", 0),
                "stored_files_scanned": result.stats.get("stored_files_scanned", 0),
                "min_lsn": stats["min_lsn"],
                "max_lsn": stats["max_lsn"],
                "duration_sec": res.duration_sec,
                "committed_at": time.time(),
                "timings": res.timings,
            },
        )
    return res
