"""Per-key last-writer-wins dedupe — the heart of the CDC apply stage.

The reference achieves LWW per batch by deleting matching keys then inserting the
staged rows (RedshiftJdbcClient.java:279-291); within a batch the last write to a key
wins implicitly. We refine that to an explicit, deterministic per-event rule:
winner(key) = argmax over (lsn, op_rank) — op_rank breaks same-LSN ties as D > U > I.

Scale design — the winner pick must collapse a hot key before the shuffle:

- A bare window (``row_number() OVER (PARTITION BY key ORDER BY lsn DESC)`` kept as
  a column) shuffles EVERY row of a key to one reducer: a hot key (50% of a
  10^10-event log) lands 5·10^9 rows on one task. That plan melts at scale.
- ``groupBy(key).agg(max_by(payload, ord))`` (``lww_dedupe``) is a
  commutative-associative aggregate: Spark performs map-side partial aggregation,
  so each input partition first collapses its local rows per key to ONE row, and
  only those partials shuffle. The hot key contributes at most one row per upstream
  partition — skew is absorbed before the exchange. This is the same trick as the
  reference's per-thread buffering (ParallelLoader.java:156-167), done by
  Tungsten's hash aggregate.
- A ``row_number() ... = 1`` FILTER is the same map-side collapse in window form:
  Spark (3.5+) plans it as a partial top-1 (``WindowGroupLimit ... Partial``)
  before the key exchange, so each input partition again ships at most one row
  per key.
- The lake merge (lake.py) picks in its write tasks instead: its write
  repartition already sends all of a key's rows to one task (they share a
  bucket), so the write tasks keep each key's row with the highest packed long,
  and the batch is exchanged once. That pick does NOT collapse a hot key before
  the shuffle, so the merge first collapses a batch of more than
  ``lake._COLLAPSE_AT`` events with the partial top-1 above (and its write
  tasks then skip the pick, unless it folds): below it, a hot key costs one
  write task at most that many rows.

An explicit two-phase salted variant is provided for completeness and for plans where
a window is genuinely required (e.g. top-N per key with N>1); the
``cdc_lww_salted`` query runs it, and the tests check both against a
window-function reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pocket_etl_spark.schema import LSN_COL, OP_COL, OP_RANK


def OP_RANK_EXPR(op_col: str = OP_COL):
    """Deterministic tie-break rank for same-LSN events: D(3) > U(2) > I(1);
    any other op ranks 0 (the rank the merge gives a stored live row, so any
    same-LSN incoming event replaces it: idempotent replay)."""
    expr = F.lit(0)
    for op, rank in OP_RANK.items():
        expr = F.when(F.col(op_col) == op, F.lit(rank)).otherwise(expr)
    return expr


def lww_dedupe(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = LSN_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """One row per key: the event with max (lsn, op_rank).

    Single hash-aggregate; map-side combine makes it skew-proof (see module doc).
    """
    payload = [c for c in df.columns if c not in key_cols]
    ord_expr = F.struct(F.col(lsn_col), OP_RANK_EXPR(op_col))
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*payload), ord_expr).alias("_w"))
        .select(*key_cols, "_w.*")
    )


def lww_dedupe_salted(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = LSN_COL,
    op_col: str = OP_COL,
    num_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase salted dedupe (SURVEY.md §4.2.2).

    Phase 1 groups by (key, salt) — a hot key's rows spread across ``num_salts``
    reducers; phase 2 reduces the ≤num_salts survivors per key to the global winner.
    Result is identical to lww_dedupe (argmax is associative); kept as the explicit
    skew-split demonstration and for window-shaped plans AQE can't rescue.
    """
    payload = [c for c in df.columns if c not in key_cols]
    ord_expr = F.struct(F.col(lsn_col), OP_RANK_EXPR(op_col))
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(num_salts)))
    phase1 = (
        salted.groupBy(*key_cols, "_salt")
        .agg(F.max_by(F.struct(*payload), ord_expr).alias("_w"))
        .select(*key_cols, "_w.*")
    )
    return lww_dedupe(phase1, key_cols, lsn_col=lsn_col, op_col=op_col)
