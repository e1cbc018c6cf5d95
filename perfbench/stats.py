"""Pure arithmetic the benchmark reports with: percentiles, the tail
rule, span self time and process peak memory. No Spark here, so the
tests exercise it without a session."""

from __future__ import annotations

import math
import os
import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of all samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(percentile, value, n)`` for the highest whole percentile that
    leaves at least ``beyond`` samples strictly above its nearest-rank
    value. With fewer than ``2 * beyond`` samples no percentile at or
    above the median qualifies, and the tail is the median (the mean of
    the middle two for an even count), reported as percentile 50."""
    n = len(samples)
    s = sorted(samples)
    for p in range(99, 49, -1):
        v = percentile(s, p)
        if sum(1 for x in s if x > v) >= beyond:
            return float(p), v, n
    return 50.0, statistics.median(s), n


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (overlapping children count once; parts outside the span do not
    count)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def reset_hwm(pid: int | str = "self") -> None:
    """Reset a process's ``VmHWM`` to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files
