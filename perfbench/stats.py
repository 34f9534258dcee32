"""Summary statistics and memory readings used by the benchmark."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_level(n: int) -> float | None:
    """The highest percentile with at least MIN_BEYOND samples beyond it,
    or None when even the median has fewer."""
    for p in TAIL_LEVELS:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summary(values) -> dict:
    """{n, p50, tail_p, tail}: median, plus the highest percentile that
    has at least ten samples beyond it (None when there are too few)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if n else None,
           "tail_p": tail_level(n), "tail": None}
    if out["tail_p"] is not None:
        out["tail"] = percentile(values, out["tail_p"])
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
