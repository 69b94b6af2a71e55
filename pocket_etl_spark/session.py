"""SparkSession factory tuned for this engine.

Local-mode knobs chosen for the sandbox (single JVM, ``local[N]``); the same builder
settings are what we would ship for a 1000-executor cluster, minus the master/memory
lines which come from spark-submit there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _parse_gb(mem: str) -> int:
    m = mem.strip().lower()
    if m.endswith("g"):
        return int(m[:-1])
    if m.endswith("m"):
        return max(1, int(m[:-1]) // 1024)
    return int(m)


def _derived_heap() -> str:
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
        return f"{max(2, min(16, int(avail_kb / (1 << 20) * 0.5)))}g"
    except (OSError, StopIteration):
        return "8g"


def get_spark(
    app_name: str = "pocket_etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else 8.
    ``shuffle_partitions`` defaults to ``cores`` — at cluster scale this would be
    sized to total executor cores (AQE coalesces down when partitions are small).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Heap: explicit override, else derived from MemAvailable (half, capped at
    # 16g, floor 2g) — a fixed 16g -Xms with AlwaysPreTouch would fail to start
    # (or pre-touch the whole machine) on smaller hosts.
    mem = os.environ.get("SPARK_DRIVER_MEM") or _derived_heap()

    # Shuffle/spill files go to fast local storage: tmpfs in this sandbox (the
    # rootfs disk collapses under 32 concurrent shuffle writers), local NVMe on
    # a real cluster (where spark.local.dir comes from the node config). tmpfs
    # competes with the heap for RAM, so only use it when its free space covers
    # at least the heap again — otherwise fall back to disk.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            shm_free = st.f_bavail * st.f_frsize
        except OSError:
            shm_free = 0
        if shm_free >= _parse_gb(mem) * (1 << 30):
            local_dir = "/dev/shm/spark-local"
            os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting. The merge
        # adds no salting of its own; only its bucket write salts a hot bucket
        # into slices (lake._write_buckets' ``_slice``).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow everywhere: all Python-side transforms are vectorized
        # (north rule: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", mem)
        # Throughput GC + fully pre-faulted heap. Measured on this box: without
        # AlwaysPreTouch, young GCs that first-touch fresh heap pages stall for
        # seconds inside the microVM (on-demand page faulting), producing 10x
        # outliers on the merge's aggregate shape. ParallelGC beats G1's
        # concurrent cycles for this pure-throughput, 32-thread single JVM.
        # On a real cluster these are per-executor JVM flags.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Xms{mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # A lake scan hands Spark its explicit file list; above this many paths
        # Spark lists them in a distributed job (one task per file) instead of
        # on the driver. A merge's fold reads a few dozen to hundreds of files.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # With DataFrame debugging on, every PySpark Column or DataFrame call
        # first records its Python call site in the JVM (for error context):
        # about 10 py4j round trips per call, most of a commit's plan-building
        # round trips.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
