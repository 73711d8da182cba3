"""Pure helpers of the benchmark: percentile rule, metric-name rule,
and the host-contention rule.  Nothing here imports Spark."""

from __future__ import annotations

import os
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Percentiles the benchmark may report, highest last.
PERCENTILES = (50, 90, 99)


def valid_metric_name(name: str) -> bool:
    """Letters, digits, ``_ . -``; starts with a letter or digit; at
    most 64 characters."""
    return METRIC_NAME.fullmatch(name) is not None


def reportable_percentiles(n: int) -> list[int]:
    """Percentiles of ``n`` samples that have at least ten samples
    beyond them (the median always counts once there is a sample)."""
    if n < 1:
        return []
    return [p for p in PERCENTILES if p == 50 or n * (100 - p) >= 10 * 100]


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, -(-p * len(s) // 100))
    return s[rank - 1]


def steal_pct(st0: int | None, st1: int | None, wall_s: float, cpus: int) -> float | None:
    """Steal share of ``wall_s`` x ``cpus``, in percent."""
    if st0 is None or st1 is None or wall_s <= 0:
        return None
    hz = os.sysconf("SC_CLK_TCK") or 100
    return 100.0 * (st1 - st0) / (wall_s * hz * cpus)


def contended(load1: float, steal: float | None, cpus: int,
              contended_x: float, steal_pct_x: float) -> bool:
    """The same rule bench.py applies to a sample: load1 above
    ``contended_x`` x cpus, or steal above ``steal_pct_x`` percent."""
    return load1 > contended_x * cpus or (steal is not None and steal > steal_pct_x)
