"""The ``analytics`` workload: the 18 headline queries of the catalogue over tables
generated from the seed.

It runs no CDC code, so a tail, apply or merge change should leave it flat; it is
the only workload that exercises ``queries``, ``operators`` and ``functions``.

Each query is timed through ``toPandas()``: like a ``noop`` write it forces the
whole plan (a bare ``count()`` lets Catalyst prune the projection away), and the
collected frame is what the oracle check compares, so one pass both measures and
verifies. A fresh Spark process spends most of the first pass compiling; one
pass is all a run has time for, so the timed pass is that first pass.
"""

from __future__ import annotations

import time
from contextlib import nullcontext

from pyspark.sql import SparkSession

from pocket_etl_spark.oracle import compare_frames, duckdb_oracle
from pocket_etl_spark.queries import ORACLE_SQL, QUERIES

from perfbench.sparkstats import Counters, StageCounters
from perfbench.tables import generate
from perfbench.trace import Tracer

SF = 0.005

HEADLINE = [
    "agg_pricing_summary",
    "join_agg_revenue",
    "lookup_join_enrich",
    "semi_join",
    "window_topk_per_group",
    "time_window_agg",
    "asof_join",
    "range_join",
    "text_tokens_regex",
    "cdc_lww_dedupe",
    "cdc_apply_upsert",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "text_quality",
    "ann_brute_force",
    "multimodal_binary_meta",
]


class Analytics:
    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.stages = StageCounters(spark)
        self.data = f"{work}/tables"

    def setup(self) -> dict[str, int]:
        return generate(self.data, SF, self.seed)

    def run_pass(self, tracer: Tracer | None = None, traced: set[str] = frozenset(), keep: bool = False) -> dict:
        """One pass over the suite. Returns per-query walls, counters, and (with
        ``keep``) the collected frames for the oracle check. Queries named in
        ``traced`` run inside a span."""
        out: dict = {"wall_s": {}, "counters": {}, "frames": {}, "errors": {}}
        for name in HEADLINE:
            mark = self.stages.mark()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query.{name}") if name in traced else nullcontext():
                    pdf = QUERIES[name](self.spark, self.data).toPandas()
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the suite goes on
                out["errors"][name] = f"{type(e).__name__}: {e}"[:500]
                continue
            out["wall_s"][name] = time.perf_counter() - t0
            end = self.stages.mark()
            self.stages.drain()
            out["counters"][name] = self.stages.between(mark, end)
            if keep:
                out["frames"][name] = pdf
        out["total_counters"] = sum(out["counters"].values(), Counters())
        return out

    def verify(self, frames: dict) -> list[str]:
        problems = []
        for name, got in frames.items():
            want = duckdb_oracle(ORACLE_SQL[name], self.data)
            p = compare_frames(got, want)
            if p:
                problems.append(f"{name}: {'; '.join(p)}")
        return problems
