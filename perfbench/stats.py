"""Latency summary of a run."""

from __future__ import annotations

# A tail percentile is reported only when it rests on this many samples
# or more: with fewer, the 90th percentile of a run is one of its two or
# three slowest operations, and moves with whichever query or round
# happened to land there.
MIN_SAMPLES_P90 = 100


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (the rule numpy
    uses by default)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(samples: list[float]) -> dict[str, float]:
    """``latency_p50_s`` always; ``latency_p90_s`` only when the run
    timed at least ``MIN_SAMPLES_P90`` operations."""
    out = {"latency_p50_s": percentile(samples, 50.0)}
    if len(samples) >= MIN_SAMPLES_P90:
        out["latency_p90_s"] = percentile(samples, 90.0)
    return out
