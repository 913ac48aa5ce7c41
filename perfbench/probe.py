"""Host speed probe: how fast the host runs code, sampled through a run.

    python3 perfbench/probe.py OUT

Every ``PERIOD_S`` the probe times a fixed pure-Python loop by its own
CPU time and appends ``<monotonic time> <cpu seconds>`` to ``OUT``,
until it is stopped. ``run.py`` starts it beside the workload process
(not under it, so its CPU is not the workload's) and stops it when the
workload ends.

Why: on a shared host the same work costs a different number of CPU
seconds from one minute to the next. On the 4-vCPU VM this benchmark
was built on, the probe's loop took 10 ms for a stretch of runs and
5 ms a quarter of an hour later, and the workloads' set-up time and CPU
per operation halved with it. Host steal does not show this (it read
under 0.1% in both stretches); CPU time excludes steal but not a
slower clock or a busy sibling hyperthread. ``rescale`` turns a
reading into seconds on a host where one probe loop takes ``REF_S``,
from the probe samples taken while the reading was made.
"""

from __future__ import annotations

import statistics
import sys
import time

ROUNDS = 100_000
PERIOD_S = 0.1
# CPU seconds one probe loop takes on the reference host: the median
# the probe read on the 4-vCPU VM the benchmark was built on, in its
# slower stretch
REF_S = 0.010
# a window with fewer samples than this is read against the whole run's
MIN_SAMPLES = 5


def sample(rounds: int = ROUNDS) -> float:
    """CPU seconds this thread takes for the fixed loop."""
    t0 = time.thread_time()
    acc = 0
    for i in range(rounds):
        acc += i * i % 7
    return time.thread_time() - t0


def read(path: str) -> list[tuple[float, float]]:
    """``(time, seconds)`` samples written by a probe; a last line cut
    short by the probe being stopped is skipped."""
    out = []
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 2:
                out.append((float(parts[0]), float(parts[1])))
    return out


def speed(samples: list[tuple[float, float]], start: float, end: float) -> float:
    """Median probe time over ``[start, end]``, or over every sample
    when the window holds fewer than ``MIN_SAMPLES``."""
    inside = [s for t, s in samples if start <= t <= end]
    if len(inside) < MIN_SAMPLES:
        inside = [s for _, s in samples]
    if not inside:
        raise ValueError("no probe samples")
    return statistics.median(inside)


def rescale(value: float, samples: list[tuple[float, float]], start: float, end: float) -> float:
    """``value`` measured over ``[start, end]``, in seconds on the
    reference host."""
    return value * REF_S / speed(samples, start, end)


def main() -> int:
    with open(sys.argv[1], "a") as fh:
        while True:
            s = sample()
            fh.write(f"{time.monotonic():.6f} {s:.9f}\n")
            fh.flush()
            time.sleep(PERIOD_S)


if __name__ == "__main__":
    raise SystemExit(main())
