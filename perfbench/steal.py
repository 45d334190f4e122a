"""CPU time the hypervisor took from this machine, read from /proc/stat.

On a shared virtual machine a vCPU that wants to run can be descheduled;
Linux counts that time as ``steal``. It lengthens every wall-clock
measurement by an amount that depends on the neighbours, not on the code
under test, so the benchmark removes it: a span's seconds are scaled by

    1 - stolen share,  stolen share = max over CPUs of (steal / span)

the largest share of the span's wall time that any one CPU lost. The
most-robbed CPU, not the average, because a Spark stage ends with its
slowest task. A CPU that sat idle accrues no steal, so an idle or
serial span is not over-corrected. On a host with no steal the scale
is 1.
"""

from __future__ import annotations

import os
import time

_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def snapshot() -> tuple[float, list[int]]:
    """(monotonic seconds, steal ticks of each CPU so far)."""
    steal = []
    with open("/proc/stat") as f:
        next(f)  # the all-CPU total
        for line in f:
            if not line.startswith("cpu"):
                break
            steal.append(int(line.split()[8]))
    return time.perf_counter(), steal


def stolen_share(a: tuple[float, list[int]], b: tuple[float, list[int]]) -> float:
    span = b[0] - a[0]
    if span <= 0:
        return 0.0
    lost = max((sb - sa for sa, sb in zip(a[1], b[1])), default=0) * _TICK_S
    # whole ticks can overshoot a span only a few ticks long
    return min(lost / span, 0.9)


def timed(fn):
    """``(seconds, fn())``: wall seconds of the call without its stolen share."""
    s0 = snapshot()
    out = fn()
    s1 = snapshot()
    return (s1[0] - s0[0]) * (1 - stolen_share(s0, s1)), out
