"""Latency statistics, memory probes and the self-describing run stamp."""

from __future__ import annotations

import math
import os
import platform
import re
import statistics
import subprocess
import sys
from typing import Any, Iterable

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs: Iterable[float], beyond: int = TAIL_BEYOND
         ) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has
    at least ``beyond`` samples above it.

    With ``n`` samples the percentile is the whole-number ``p`` for which
    ``n * (100 - p) / 100 >= beyond`` holds at its largest, and the value
    is the sample at nearest rank ``ceil(n * p / 100)``. With fewer than
    ``beyond + 1`` samples no percentile qualifies and the median is
    given with ``p = 50`` so the reader sees the rule did not apply.
    """
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return median(xs), 50.0, n
    p = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(n * p / 100))
    return xs[rank - 1], float(p), n


def gmean(xs: Iterable[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def kind_p50_gmean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency: every
    kind weighs the same however often it ran in the window."""
    return gmean(median(v) for v in samples.values() if v)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process in MB, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, (0, 0) if unknown.
    Steal is time a virtual CPU was ready but the host ran something
    else: on a shared host it is what makes whole runs slower."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def _git_sha(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def contended(load1: float, cpus: int) -> bool:
    """A 1-minute load above max(2, cpus/8) before the run starts means
    another tenant holds a share of the machine (bench.py's rule)."""
    return load1 > max(2.0, cpus / 8.0)


def stamp(spark, root: str, seed: int, load_before: float,
          steal: float, sizes: dict[str, Any]) -> dict[str, Any]:
    """What the run ran on, so a result can be judged without re-running."""
    sc = spark.sparkContext
    conf = sc.getConf()
    jvm = sc._jvm
    cpus = os.cpu_count() or 1
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "nproc": cpus,
        "loadavg": [round(load_before, 2), round(os.getloadavg()[0], 2)],
        "contended": contended(load_before, cpus),
        "timed_steal_frac": round(steal, 4),
        "seed": seed,
        "sizes": sizes,
        "argv": sys.argv[1:],
    }
