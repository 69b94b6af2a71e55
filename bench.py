"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS], plus the engine's own CDC replay throughput.

Prints ONE JSON line:
  {"metric": "...", "value": <total headline sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "events_per_sec": <cdc replay rate>,
   "queries_local8": {...}, "events_per_sec_local8": <rate>}
The *_local8 twins re-run the identical suite in a local[8] subprocess
(best-of-3): that is the host's measured linear region (BENCH/BASELINE.md), so
round-over-round deltas are read off local8, not the noisy local[32] section.

The N-vs-4N scaling evidence (BASELINE.md protocol) lives in
tools/bench_scaling.py → BENCH/BASELINE.md; this file is the fast per-round loop.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pocket_etl_spark.session import get_spark  # noqa: E402

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

CDC_EVENTS = int(os.environ.get("BENCH_CDC_EVENTS", "4000000"))
CDC_KEYS = int(os.environ.get("BENCH_CDC_KEYS", "200000"))

TABLES = [
    "lineitem", "orders", "customer", "supplier", "nation", "region",
    "events", "documents", "embeddings",
]


def warm_reader(spark, sf_dir: str) -> None:
    """Warm the parquet-reader path (file listing, footer decode, scan codegen)
    so per-query numbers measure the query, not first-touch JVM warmup — the
    round-1 bench warmed the JVM but not the reader, which dominated the first
    query's time (~4.8s for a 0.3s aggregate)."""
    for name in TABLES:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).count()


BENCH_REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))


def run_headline(spark, sf_dir: str) -> dict[str, float]:
    """Each query timed BENCH_REPEATS times, best taken: this host shows
    intermittent 2-4x multi-tenant slowdowns (BENCH/BASELINE.md), and the best
    of repeated identical runs is the closest estimate of true capability —
    round-over-round deltas on single-shot numbers are noise."""
    from pocket_etl_spark.queries import QUERIES

    times: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(BENCH_REPEATS):
            t0 = time.time()
            # count() executes the full plan without driver-side materialization
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
    return times


def run_cdc_replay(spark) -> tuple[float, float]:
    """Engine ingest benchmark: generate a CDC log and replay it through the full
    apply path (dedupe → merge → commit) in 4 micro-batches."""
    from pocket_etl_spark.cdc.apply import apply_batch
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix="bench_cdc_", dir=base)
    try:
        # Same steady-state protocol as tools/bench_scaling.py: stage the WAL to
        # local parquet and JIT-warm the merge pipeline outside the timed window.
        wal = os.path.join(d, "wal")
        gen_change_events(spark, CDC_EVENTS, CDC_KEYS, seed=42, content_repeat=2).write.parquet(wal)
        events = spark.read.parquet(wal)
        warm = ParquetLakeTable(spark, os.path.join(d, "warm"), num_buckets=32)
        apply_batch(events.filter("lsn <= 100000"), warm, batch_id=0)

        n_batches = 4
        step = CDC_EVENTS // n_batches
        walls = []
        for r in range(BENCH_REPEATS):
            table = ParquetLakeTable(spark, os.path.join(d, f"t{r}"), num_buckets=32)
            t0 = time.time()
            for i in range(n_batches):
                lo, hi = i * step + 1, (i + 1) * step
                apply_batch(events.filter(f"lsn between {lo} and {hi}"), table, batch_id=i)
            walls.append(time.time() - t0)
            shutil.rmtree(os.path.join(d, f"t{r}"), ignore_errors=True)
        wall = min(walls)  # best-of-N (see run_headline)
        return wall, CDC_EVENTS / wall
    finally:
        shutil.rmtree(d, ignore_errors=True)


def linear_region_only() -> None:
    """Subprocess mode: run the FULL headline suite (best-of-3) plus the CDC
    replay at $SPARK_GRAFT_CPUS and print one JSON line — lets the main bench
    also report every number at the host's measured linear region (local[8];
    see BENCH/BASELINE.md — local[32] on this box swings 2-4x with ambient
    load and measures the microVM, not the engine, so round-over-round deltas
    are tracked on the local[8] twin)."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_linear", cores=cores, shuffle_partitions=cores)
    spark.range(1).count()
    warm_reader(spark, sf_dir)
    times = run_headline(spark, sf_dir)
    wall, eps = run_cdc_replay(spark)
    times["cdc_replay"] = round(wall, 3)
    print(json.dumps({"queries": times, "eps": eps, "cores": cores}))


def _linear_region_pass() -> dict | None:
    import subprocess

    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": os.environ.get("BENCH_LINEAR_CPUS", "8"),
        "BENCH_REPEATS": os.environ.get("BENCH_LINEAR_REPEATS", "3"),
    }
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--local8-only"],
            env=env, capture_output=True, text=True, timeout=2400,
        )
        for line in reversed(r.stdout.strip().splitlines()):
            if line.startswith("{"):
                return json.loads(line)
    except Exception:
        pass
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    spark.range(1).count()  # JVM warmup outside timings
    warm_reader(spark, sf_dir)  # reader/codegen warmup outside timings

    times = run_headline(spark, sf_dir)
    cdc_wall, eps = run_cdc_replay(spark)
    times["cdc_replay"] = round(cdc_wall, 3)
    spark.stop()

    # comparable steady-state numbers: the SAME suite + replay at the host's
    # measured linear region (local[8], best-of-3). The local[32] section above
    # stays the headline for continuity; queries_local8 is the round-over-round
    # signal (VERDICT r3 next-round #4).
    linear = _linear_region_pass()

    out = {
        "metric": "headline_suite_plus_cdc_replay_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "events_per_sec": round(eps, 1),
        "cdc_events": CDC_EVENTS,
        "cores": cores,
    }
    if linear is not None:
        out["events_per_sec_local8"] = round(linear["eps"], 1)
        out["queries_local8"] = linear["queries"]
        out["value_local8"] = round(sum(linear["queries"].values()), 3)
        out["local8_repeats"] = int(os.environ.get("BENCH_LINEAR_REPEATS", "3"))
    else:
        out["events_per_sec_local8"] = None
    print(json.dumps(out))


if __name__ == "__main__":
    if "--local8-only" in sys.argv or "--replay-only" in sys.argv:
        linear_region_only()
    else:
        main()
