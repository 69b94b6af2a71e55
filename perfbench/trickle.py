"""The ``trickle`` workload: a continuously running CDC tail fed by one closed-loop
client, with a change-feed reader behind it.

Set-up writes every input file from the seed (``walgen``), backfills an empty
32-bucket table by draining a bootstrap WAL file through
``run_tail_to_exhaustion``, starts the continuous tail (default trigger) over an
empty WAL directory, and sends the warm-up files. One timed round then:

1. renames the next ~2k-event file into the WAL directory;
2. waits until the table's ``last_batch_id`` for the tail's query reaches the
   file's batch (commit latency);
3. polls the change feed with ``ChangeFeedCursor.poll``, consumes it into a
   ``noop`` sink and commits the cursor (feed latency).

Only one file is ever in flight, so each micro-batch holds exactly one file and
batch ``j`` is file ``j``. The input mix: ~30% of events hit one hot key, ~1% have
a NULL op (routed to the DLQ), and a ``new_col_score`` tunnel field appears from
file ``EVOLVE_AT`` on, which the merge promotes to a column.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from pocket_etl_spark.cdc import apply as cdc_apply
from pocket_etl_spark.cdc.feed import ChangeFeedCursor
from pocket_etl_spark.lake import ParquetLakeTable
from pocket_etl_spark.streaming import tail as cdc_tail

from perfbench import walgen
from perfbench.sparkstats import Counters, StageCounters
from perfbench.trace import ProgressListener, Tracer

QUERY = "cdc_tail"
KEYS = 20_000
BOOT_EVENTS = 30_000
FILE_EVENTS = 2_000
MAX_FILES = 48
WARMUP_ROUNDS = 4
MIN_ROUNDS = 6
# Files from this one on carry the tunnel field. It is the second warm-up file,
# so the schema change lands in set-up and every timed batch has the same shape.
EVOLVE_AT = 1
EVOLVED_COL = "new_col_score"
HOT_KEY_FRACTION = 0.3
INVALID_FRACTION = 0.01
BUCKETS = 32
COMMIT_TIMEOUT_S = 60.0
POLL_S = 0.002


def wait_for_batch(read_batch_id, target: int, timeout_s: float, alive=lambda: True) -> bool:
    """Poll ``read_batch_id()`` until it reaches ``target``. False when
    ``timeout_s`` passes or ``alive()`` turns false first (the tail died)."""
    deadline = time.perf_counter() + timeout_s
    while read_batch_id() < target:
        if not alive() or time.perf_counter() > deadline:
            return False
        time.sleep(POLL_S)
    return True


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


@dataclass
class Round:
    file: int
    commit_s: float
    feed_s: float
    ok: bool
    counters: Counters
    feed_rows: int = 0
    bytes_written: int = 0
    traced: bool = False
    valid_events: int = 0  # filled in by verification


class Trickle:
    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.stages = StageCounters(spark)
        self.table: ParquetLakeTable | None = None
        self.query = None
        self.cursor: ChangeFeedCursor | None = None
        self.next_file = 0
        self.sent: list[str] = []
        self.setup_steps: dict[str, float] = {}

    # ---------------- set-up ----------------

    def setup(self) -> None:
        w = self.work
        t = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        os.makedirs(f"{w}/boot_wal")
        os.makedirs(f"{w}/stage")
        self.boot_file = f"{w}/boot_wal/b00000.parquet"
        pq.write_table(walgen.events(rng, 1, BOOT_EVENTS, KEYS), self.boot_file)
        lsn = 1 + BOOT_EVENTS
        self.files = []
        for j in range(MAX_FILES):
            tbl = walgen.events(
                rng, lsn, FILE_EVENTS, KEYS,
                hot_fraction=HOT_KEY_FRACTION,
                invalid_fraction=INVALID_FRACTION,
                tunnel_col=EVOLVED_COL if j >= EVOLVE_AT else None,
            )
            self.files.append(f"{w}/stage/f{j:05d}.parquet")
            pq.write_table(tbl, self.files[-1])
            lsn += tbl.num_rows
        self.setup_steps["stage_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.table = ParquetLakeTable(self.spark, f"{w}/table", num_buckets=BUCKETS)
        cdc_tail.run_tail_to_exhaustion(
            self.spark, f"{w}/boot_wal", self.table, f"{w}/ck_boot",
            query_id="bootstrap", max_files_per_trigger=1, timeout_sec=int(COMMIT_TIMEOUT_S * 4),
        )
        if self.table.last_batch_id("bootstrap") != 0:
            raise RuntimeError("bootstrap drain did not commit the WAL file")
        self.setup_steps["drain_s"] = time.perf_counter() - t

        t = time.perf_counter()
        os.makedirs(f"{w}/wal")
        self.query = cdc_tail.start_tail(
            self.spark, f"{w}/wal", self.table, f"{w}/ck_tail",
            query_id=QUERY, dlq_path=f"{w}/dlq", available_now=False,
        )
        self.cursor = ChangeFeedCursor(self.table, f"{w}/cursor.json")
        self.cursor.commit(self.table.current_version())
        self.setup_steps["tail_start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            r = self.round()
            if not r.ok:
                raise RuntimeError("warm-up batch was not committed")
        self.setup_steps["warmup_s"] = time.perf_counter() - t

    # ---------------- one closed-loop round ----------------

    def round(self, tracer: Tracer | None = None) -> Round:
        j = self.next_file
        self.next_file += 1
        dst = f"{self.work}/wal/f{j:05d}.parquet"
        table, query = self.table, self.query
        mark = self.stages.mark()
        t0 = time.perf_counter()
        os.rename(self.files[j], dst)
        ok = wait_for_batch(
            lambda: table.last_batch_id(QUERY), j, COMMIT_TIMEOUT_S, alive=lambda: query.isActive
        )
        t1 = time.perf_counter()
        self.sent.append(dst)
        rows = 0
        if ok:
            df, upto = self.cursor.poll()
            if df is not None:
                obs = Observation("feed")
                with tracer.span("feed.consume") if tracer else nullcontext() as span:
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
                    rows = int(obs.get["rows"])
                    if span is not None:
                        span.attrs["rows"] = rows
                self.cursor.commit(upto)
        t2 = time.perf_counter()
        end = self.stages.mark()
        self.stages.drain()
        counters = self.stages.between(mark, end)
        written = dir_bytes(f"{table.path}/data/v{table.current_version():012d}")[0] if ok else 0
        return Round(j, t1 - t0, t2 - t1, ok, counters, rows, written)

    def window(
        self, seconds: float, tracer: Tracer | None = None, min_rounds: int = MIN_ROUNDS
    ) -> list[Round]:
        """Rounds until ``seconds`` have passed and ``min_rounds`` are done. With
        a tracer, rounds are traced in the pattern untraced, traced, traced,
        untraced, ... so that a steady warm-up trend of the JVM affects both sets
        alike and cancels out of the traced - untraced difference."""
        rounds: list[Round] = []
        t0 = time.perf_counter()
        while self.next_file < MAX_FILES and (
            len(rounds) < min_rounds or time.perf_counter() - t0 < seconds
        ):
            traced = tracer is not None and len(rounds) % 4 in (1, 2)
            if tracer is not None:
                tracer.op, tracer.active = self.next_file, traced
            r = self.round(tracer if traced else None)
            r.traced = traced
            rounds.append(r)
            if not r.ok:
                break
        if tracer is not None:
            tracer.active = False
        return rounds

    # ---------------- tracing ----------------

    def install_tracer(self, tracer: Tracer) -> ProgressListener:
        def on_apply(s, res, args, kwargs):
            s.attrs.update(rows_bad=res.rows_bad, batch_id=kwargs.get("batch_id"), timings=res.timings)

        def on_merge(s, res, args, kwargs):
            table = args[0]
            s.attrs["buckets_rewritten"] = len(res.touched_buckets)
            if res.committed:
                b, f = dir_bytes(f"{table.path}/data/v{res.version:012d}")
                s.attrs.update(bytes_written=b, files_written=f)

        def on_promote(s, res, args, kwargs):
            s.attrs["keys"] = list(kwargs.get("keys") or [])

        # the tail module imported apply_batch by name; patch both bindings
        tracer.wrap(cdc_tail, "apply_batch", "apply", on_apply)
        tracer.wrap(cdc_apply, "apply_batch", "apply", on_apply)
        tracer.wrap(cdc_apply, "promote_extras", "evolution.promote", on_promote)
        tracer.wrap(ParquetLakeTable, "merge", "lake.merge", on_merge)
        tracer.wrap(ParquetLakeTable, "read_changes", "lake.read_changes")
        tracer.wrap(ChangeFeedCursor, "poll", "feed.poll")
        tracer.wrap(ChangeFeedCursor, "commit", "feed.commit")
        listener = ProgressListener(QUERY)
        self.spark.streams.addListener(listener)
        return listener

    # ---------------- verification (outside the timed window) ----------------

    def verify(self) -> tuple[list[str], dict]:
        """Stop the tail, then check the final snapshot, the DLQ and the promoted
        column against an independent DuckDB reading of exactly the WAL files the
        tail consumed."""
        self.query.stop()
        problems: list[str] = []
        files = [self.boot_file, *self.sent]
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.work}/duckdb_tmp'")
        con.execute(f"CREATE VIEW wal AS SELECT * FROM read_parquet({files!r})")
        want = con.sql(
            """
            SELECT repo, path, lsn, sha256(content) AS h FROM (
              SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
              FROM wal WHERE op IN ('I', 'U', 'D') AND repo IS NOT NULL
                AND path IS NOT NULL AND lsn IS NOT NULL
            ) WHERE rn = 1 AND op <> 'D'
            """
        ).fetchall()
        got = (
            self.table.read()
            .select("repo", "path", "lsn", F.sha2("content", 256).alias("h"))
            .collect()
        )
        got_rows = sorted(tuple(r) for r in got)
        want_rows = sorted(want)
        if got_rows != want_rows:
            diff = len(set(got_rows) ^ set(want_rows))
            problems.append(f"snapshot: {len(got_rows)} rows vs oracle {len(want_rows)}, {diff} differ")

        invalid = con.sql(
            "SELECT count(*) FROM wal WHERE op IS NULL OR op NOT IN ('I', 'U', 'D')"
        ).fetchone()[0]
        valid_by_file = dict(
            con.sql(
                f"SELECT filename, count(*) FROM read_parquet({self.sent!r}, filename=true) "
                "WHERE op IN ('I', 'U', 'D') GROUP BY filename"
            ).fetchall()
        )
        dlq_dir = f"{self.work}/dlq"
        dlq_rows = self.spark.read.parquet(dlq_dir).count() if os.path.isdir(dlq_dir) else 0
        if dlq_rows != invalid:
            problems.append(f"dlq: {dlq_rows} rows vs {invalid} invalid events")

        evolved = con.sql(
            f"SELECT count(*) FROM wal WHERE element_at(extras, '{EVOLVED_COL}')[1] IS NOT NULL"
        ).fetchone()[0]
        has_col = EVOLVED_COL in self.table.schema().fieldNames()
        if has_col != (evolved > 0):
            problems.append(f"evolution: column present={has_col}, evolved events={evolved}")
        return problems, {
            "snapshot_rows": len(got_rows),
            "invalid_events": invalid,
            "dlq_rows": dlq_rows,
            "valid_events_by_file": valid_by_file,
            "evolved_events": evolved,
            "promoted_col_present": has_col,
        }
