"""Summary statistics and host readings used by every workload.

Pure Python, no Spark: the percentile rule and the host
counters (load average, CPU steal, peak resident memory) that let a slow run be
attributed to the host instead of the engine.
"""

from __future__ import annotations

import os
import statistics
from collections.abc import Iterable

# A tail percentile is only reported when at least this many samples lie beyond it.
TAIL_BEYOND = 10


def median(values: Iterable[float]) -> float:
    """Median; 0.0 for no values (a layer the workload does not run)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above it.

    With ``n`` sorted samples, the value at 1-based rank ``n - beyond`` has exactly
    ``beyond`` samples after it; its percentile is ``100 * (n - beyond) / n``.
    Returns None when the sample is too small (``n <= beyond``): no percentile
    then has enough samples beyond it to be more than one reading.
    """
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond
    ordered = sorted(values)
    return {
        "percentile": round(100.0 * rank / n, 2),
        "value": ordered[rank - 1],
        "n": n,
    }


def timing_summary(values: list[float]) -> dict:
    """Median plus the supported tail percentile, with the sample count."""
    if not values:
        return {"n": 0}
    return {"median": median(values), "tail": tail_percentile(values), "n": len(values)}


def read_cpu_times(path: str = "/proc/stat") -> dict[str, int]:
    """Aggregate CPU jiffies from the first line of /proc/stat."""
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    try:
        with open(path) as f:
            fields = f.readline().split()[1:]
    except OSError:
        return {}
    return {k: int(v) for k, v in zip(names, fields)}


def cpu_share_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Share of host CPU time spent busy, idle and stolen between two readings."""
    if not before or not after:
        return {}
    d = {k: after.get(k, 0) - before.get(k, 0) for k in before}
    total = sum(d.values()) or 1
    return {
        "busy": (total - d.get("idle", 0) - d.get("iowait", 0) - d.get("steal", 0)) / total,
        "idle": (d.get("idle", 0) + d.get("iowait", 0)) / total,
        "steal": d.get("steal", 0) / total,
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of a process and its live descendants,
    in MiB. The JVM that runs Spark is a child of the Python driver."""
    root = os.getpid() if root is None else root
    seen, todo, total = set(), [root], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0
