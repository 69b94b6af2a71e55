"""Repository benchmark: one workload per call, one JSON result on the last line.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 8 --trace 0

The engine package is imported from the checkout that holds this file, never from
site-packages; every file the run writes (Spark scratch,
staged inputs, tables, JVM temp files) lives under ``.perfbench_work/`` and is
removed at the end, and a full report (raw per-op values, host readings, the
per-workload detail metrics, spans when tracing) is written to
``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same timed
window untraced and then again with spans around every public engine call, and
reports the per-layer metrics plus the tracing overhead. See perfbench/README.md
for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import cpu_share_delta, peak_rss_mb, read_cpu_times  # noqa: E402
from perfbench.stats import median as med  # noqa: E402

HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "op_wall_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_LAYER = {
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
}
CDC_LAYER = {
    "tail.trigger_s": "s",
    "tail.add_batch_s": "s",
    "tail.overhead_s": "s",
    "tail.batches": "count",
    "tail.scan_rows_per_event": "ratio",
    "apply.wall_s": "s",
    "apply.self_s": "s",
    "apply.dlq_split_s": "s",
    "apply.batch_stats_s": "s",
    "apply.dlq_write_s": "s",
    "apply.rows_bad": "count",
    "lake.merge_s": "s",
    "lake.buckets_rewritten": "count",
    "lake.bytes_written": "B",
    "lake.files_written": "count",
    "lake.write_bytes_per_event": "B/event",
    "lake.read_changes_s": "s",
    "lake.change_rows": "count",
    "feed.latency_s": "s",
    "feed.poll_s": "s",
    "feed.consume_s": "s",
    "feed.commit_s": "s",
    "evolution.promoted_cols": "count",
}
TRACE_LAYER = {"trace.overhead_s": "s", "trace.unaccounted_s": "s"}


def query_layer() -> dict[str, str]:
    from perfbench.analytics import HEADLINE

    out = {}
    for q in HEADLINE:
        out[f"query.{q}.wall_s"] = "s"
        out[f"query.{q}.cpu_s"] = "s"
        out[f"query.{q}.shuffle_bytes"] = "B"
    return out


def per_layer_units() -> dict[str, str]:
    return {**CDC_LAYER, **SPARK_LAYER, **query_layer(), **TRACE_LAYER}


# ---------------------------------------------------------------- spark process


def start_spark(work: str):
    from pocket_etl_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cores=cores, extra_conf={"spark.sql.warehouse.dir": f"{work}/warehouse"})
    spark.range(1).count()
    return spark, cores


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- workloads


def counters_check(per_op_sum, window_delta) -> dict:
    """Per-call stage counters summed over the window against the executor
    totals' change over the same window (an independent count of the same work)."""
    keys = ("shuffle_write_bytes", "shuffle_read_bytes", "tasks")
    a, b = per_op_sum.as_dict(), window_delta.as_dict()
    return {
        "per_call_sum": {k: a[k] for k in keys},
        "run_total": {k: b[k] for k in keys},
        "match": all(a[k] == b[k] for k in keys),
    }


def run_trickle(spark, cores, work, seed, seconds, trace, t_start, report):
    from perfbench.sparkstats import Counters
    from perfbench.stats import timing_summary
    from perfbench.trace import Tracer
    from perfbench.trickle import FILE_EVENTS, MIN_ROUNDS, Trickle

    wl = Trickle(spark, work, seed)
    wl.setup()
    setup_s = time.perf_counter() - t_start
    report["setup_steps"] = wl.setup_steps

    tracer = listener = None
    if trace:
        # one window, half of its rounds traced: overhead = traced - untraced
        tracer = Tracer(wl.stages)
        listener = wl.install_tracer(tracer)
    before = wl.stages.executor_totals()
    window = wl.window(seconds, tracer, min_rounds=2 * MIN_ROUNDS if trace else MIN_ROUNDS)
    delta = wl.stages.executor_totals() - before
    report["counters_check"] = counters_check(sum((r.counters for r in window), Counters()), delta)
    if trace:
        tracer.restore()
        spark.streams.removeListener(listener)
    rounds = [r for r in window if not r.traced]
    traced = [r for r in window if r.traced]

    problems, facts = wl.verify()
    failed = sum(not r.ok for r in window) + len(problems)
    attempted = len(window) + 3  # rounds + snapshot, DLQ and evolution checks

    valid = facts.pop("valid_events_by_file")
    for r in window:
        r.valid_events = valid.get(f"{work}/wal/f{r.file:05d}.parquet", 0)

    ok_rounds = [r for r in rounds if r.ok]
    commit = [r.commit_s for r in ok_rounds]
    feed = [r.feed_s for r in ok_rounds]
    valid_total = sum(r.valid_events for r in ok_rounds)
    report["rounds"] = [
        {"file": r.file, "traced": r.traced, "commit_s": r.commit_s, "feed_s": r.feed_s, "ok": r.ok,
         "feed_rows": r.feed_rows, "bytes_written": r.bytes_written,
         "valid_events": r.valid_events, "counters": r.counters.as_dict()}
        for r in window
    ]
    report["verify"] = {"problems": problems, **facts}
    report["detail_metrics"] = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "drain_s": {"value": wl.setup_steps["drain_s"], "unit": "s", "note": "bootstrap backfill in set-up"},
        "events_per_s": {
            "value": valid_total / sum(r.commit_s + r.feed_s for r in ok_rounds) if ok_rounds else 0.0,
            "unit": "events/s",
        },
        "commit_latency_p50_s": {"value": med(commit), "unit": "s", "n": len(commit)},
        "commit_latency_tail_s": {**timing_summary(commit), "unit": "s"},
        "feed_latency_p50_s": {"value": med(feed), "unit": "s", "n": len(feed)},
        "executor_cpu_s": {"value": sum(r.counters.cpu_s for r in rounds), "unit": "s"},
        "write_bytes_per_event": {
            "value": sum(r.bytes_written for r in ok_rounds) / valid_total if valid_total else 0.0,
            "unit": "B/event",
        },
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    e2e = {
        "setup_s": setup_s,
        "op_wall_s": med(commit),
        "op_cpu_s": med(r.counters.cpu_s for r in ok_rounds),
    }
    if not trace:
        return e2e, attempted, failed

    # ---- per-layer metrics from the traced window: per round, median over rounds.
    # tracer.op is the round being run; spans opened on the tail's thread during
    # the round (apply, merge, promote) carry it too.
    t_ok = [r for r in traced if r.ok]
    ops = [r.file for r in t_ok]
    round_of = {r.file: r for r in t_ok}
    by_batch = {p["batch_id"]: p for p in listener.progress}  # batch j is file j
    prog = [by_batch[o] for o in ops if o in by_batch]

    def per_round(name, value=lambda s: s.duration, self_time=False):
        vals = tracer.per_op(name, value, self_time)
        return med(vals.get(o, 0.0) for o in ops)

    def timing(key):
        return lambda s: s.attrs.get("timings", {}).get(key, 0.0)

    merge = tracer.per_op("lake.merge", lambda s: s.duration)
    apply_self = tracer.per_op("apply", None, self_time=True)
    overhead = {p["batch_id"]: p["trigger_s"] - p["add_batch_s"] for p in prog}
    layer = {
        "tail.trigger_s": med(p["trigger_s"] for p in prog),
        "tail.add_batch_s": med(p["add_batch_s"] for p in prog),
        "tail.overhead_s": med(overhead.values()),
        "tail.batches": med(sum(p["batch_id"] == o for p in listener.progress) for o in ops),
        "tail.scan_rows_per_event": med(p["rows"] / FILE_EVENTS for p in prog),
        "apply.wall_s": per_round("apply"),
        "apply.self_s": per_round("apply", self_time=True),
        "apply.dlq_split_s": per_round("apply", timing("dlq_split")),
        "apply.batch_stats_s": per_round("apply", timing("batch_stats")),
        "apply.dlq_write_s": per_round("apply", timing("dlq_write")),
        "apply.rows_bad": per_round("apply", lambda s: s.attrs.get("rows_bad", 0)),
        "lake.merge_s": per_round("lake.merge"),
        "lake.buckets_rewritten": per_round("lake.merge", lambda s: s.attrs.get("buckets_rewritten", 0)),
        "lake.bytes_written": per_round("lake.merge", lambda s: s.attrs.get("bytes_written", 0)),
        "lake.files_written": per_round("lake.merge", lambda s: s.attrs.get("files_written", 0)),
        "lake.write_bytes_per_event": med(
            r.bytes_written / r.valid_events for r in t_ok if r.valid_events
        ),
        "lake.read_changes_s": per_round("lake.read_changes"),
        "lake.change_rows": per_round("feed.consume", lambda s: s.attrs.get("rows", 0)),
        "feed.latency_s": med(r.feed_s for r in t_ok),
        "feed.poll_s": per_round("feed.poll"),
        "feed.consume_s": per_round("feed.consume"),
        "feed.commit_s": per_round("feed.commit"),
        "evolution.promoted_cols": len(
            {k for s in tracer.spans if s.name == "evolution.promote" for k in s.attrs.get("keys", [])}
        ),
        **spark_layer([round_of[o].counters for o in ops], [round_of[o].commit_s + round_of[o].feed_s for o in ops], cores),
        "trace.overhead_s": med(r.commit_s for r in t_ok) - med(commit),
        # commit latency not covered by merge + apply self time + trigger overhead:
        # file discovery, the foreachBatch hand-off and the waiter's poll interval
        "trace.unaccounted_s": med(
            round_of[o].commit_s - merge.get(o, 0.0) - apply_self.get(o, 0.0) - overhead.get(o, 0.0)
            for o in ops
        ),
    }
    top = [s.counters for s in tracer.spans if s.parent is None and s.counters is not None]
    report["trace_counters_check"] = counters_check(
        sum(top, Counters()), sum((round_of[o].counters for o in ops), Counters())
    )
    report["spans"] = [s.as_dict() for s in tracer.spans]
    report["progress"] = listener.progress
    return layer, attempted, failed


def spark_layer(counters, walls, cores) -> dict:
    return {
        "spark.cpu_s": med(c.cpu_s for c in counters),
        "spark.gc_s": med(c.gc_s for c in counters),
        "spark.shuffle_write_bytes": med(c.shuffle_write_bytes for c in counters),
        "spark.shuffle_read_bytes": med(c.shuffle_read_bytes for c in counters),
        "spark.spill_bytes": med(c.spill_bytes for c in counters),
        "spark.tasks": med(c.tasks for c in counters),
        "spark.core_util": med(c.run_s / (w * cores) for c, w in zip(counters, walls) if w),
    }


def run_analytics(spark, cores, work, seed, seconds, trace, t_start, report):
    from perfbench.analytics import HEADLINE, Analytics
    from perfbench.sparkstats import Counters
    from perfbench.trace import Tracer

    wl = Analytics(spark, work, seed)
    report["tables"] = wl.setup()
    setup_s = time.perf_counter() - t_start

    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        before = wl.stages.executor_totals()
        p = wl.run_pass(keep=not passes)
        p["counters_check"] = counters_check(p["total_counters"], wl.stages.executor_totals() - before)
        passes.append(p)
    problems = wl.verify(passes[0].pop("frames"))
    errors = sum(len(p["errors"]) for p in passes)
    attempted = len(HEADLINE) * len(passes) + len(HEADLINE)  # query runs + oracle checks
    failed = errors + len(problems)

    suite = [sum(p["wall_s"].values()) for p in passes]
    cpu = [p["total_counters"].cpu_s for p in passes]
    report["passes"] = [
        {"suite_s": s, "wall_s": p["wall_s"], "errors": p["errors"],
         "counters": {k: c.as_dict() for k, c in p["counters"].items()},
         "counters_check": p["counters_check"]}
        for s, p in zip(suite, passes)
    ]
    report["verify"] = {"problems": problems}
    report["detail_metrics"] = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "suite_s": {"value": med(suite), "unit": "s", "n": len(suite)},
        "executor_cpu_s": {"value": med(cpu), "unit": "s"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    e2e = {"setup_s": setup_s, "op_wall_s": med(suite), "op_cpu_s": med(cpu)}
    if not trace:
        return e2e, attempted, failed

    # two warm passes, each tracing every other query (alternating which half),
    # so every query runs once traced and once untraced at the same warm-up point
    tracer = Tracer(wl.stages)
    halves = (set(HEADLINE[0::2]), set(HEADLINE[1::2]))
    warm = [wl.run_pass(tracer, traced=h) for h in halves]
    failed += sum(len(p["errors"]) for p in warm)
    attempted += 2 * len(HEADLINE)
    traced_s = sum(p["wall_s"].get(q, 0.0) for p, h in zip(warm, halves) for q in h)
    untraced_s = sum(p["wall_s"].get(q, 0.0) for p, h in zip(warm, reversed(halves)) for q in h)
    layer = {}
    spans = {s.name: s for s in tracer.spans}
    for q in HEADLINE:
        s = spans.get(f"query.{q}")
        c = s.counters if s and s.counters else Counters()
        layer[f"query.{q}.wall_s"] = s.duration if s else 0.0
        layer[f"query.{q}.cpu_s"] = c.cpu_s
        layer[f"query.{q}.shuffle_bytes"] = c.shuffle_write_bytes
    layer.update(spark_layer([p["total_counters"] for p in warm], [sum(p["wall_s"].values()) for p in warm], cores))
    layer["trace.overhead_s"] = traced_s - untraced_s
    report["warm_passes"] = [{"wall_s": p["wall_s"], "errors": p["errors"]} for p in warm]
    report["spans"] = [s.as_dict() for s in tracer.spans]
    return layer, attempted, failed


WORKLOADS = {"trickle": run_trickle, "analytics": run_analytics}


# ---------------------------------------------------------------- main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pocket_etl_spark", "__init__.py")):
        print(f"perfbench: no pocket_etl_spark package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # Everything Spark, Python and the JVMs (the launcher too) write goes under
    # the work dir. The heap is pre-touched (session.py), so keep it small.
    os.environ.update(
        TMPDIR=f"{work}/tmp",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        SPARK_DRIVER_MEM=HEAP,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )

    import pocket_etl_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(pocket_etl_spark.__file__))) != ROOT:
        print("perfbench: pocket_etl_spark imported from outside the checkout", file=sys.stderr)
        return 2

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    cpu0, load0 = read_cpu_times(), os.getloadavg()
    t_start = time.perf_counter()
    spark = None
    try:
        spark, cores = start_spark(work)
        report["spark_start_s"] = time.perf_counter() - t_start
        report["cores"] = cores
        values, attempted, failed = WORKLOADS[args.workload](
            spark, cores, work, args.seed, args.seconds, args.trace, t_start, report
        )
        rss = peak_rss_mb()
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    report["host"] = {
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
        "cpu_share": cpu_share_delta(cpu0, read_cpu_times()),
        "wall_s": time.perf_counter() - t_start,
    }
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        values["peak_rss_mb"] = rss
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    report["detail_metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    report["metrics"] = metrics
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"perfbench: {args.workload} report: {os.path.relpath(path, ROOT)}")
    print("perfbench: " + json.dumps({"detail_metrics": report["detail_metrics"]}, default=str))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
