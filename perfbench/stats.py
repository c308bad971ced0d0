"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math

# the tail percentile a metric may name: it needs at least this many
# samples beyond it (choosing-metrics rule), else the run is refused
MIN_BEYOND_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if pos == lo:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def min_samples(p: float | None) -> int:
    """Fewest samples that leave MIN_BEYOND_TAIL beyond percentile p."""
    return 0 if p is None else math.ceil(MIN_BEYOND_TAIL / (1.0 - p / 100.0))


def tail_supported(n: int, p: float) -> bool:
    """True when `n` samples leave at least MIN_BEYOND_TAIL beyond p."""
    return n * (1.0 - p / 100.0) >= MIN_BEYOND_TAIL


def latency_summary(
    latencies_ms: list[float], failed: int, tail: float | None, failed_ms: float
) -> dict:
    """p50 and, when `tail` is given, that percentile of request latency.
    A failed request counts as missing every latency limit: it enters as
    `failed_ms` (the client's timeout), so it can only push the
    percentiles up."""
    xs = list(latencies_ms) + [failed_ms] * failed
    out = {"p50": percentile(xs, 50.0), "n": len(xs)}
    if tail is not None:
        if not tail_supported(len(xs), tail):
            raise RuntimeError(
                f"{len(xs)} samples leave fewer than {MIN_BEYOND_TAIL} beyond p{tail:g}"
            )
        out["tail"] = percentile(xs, tail)
    return out
