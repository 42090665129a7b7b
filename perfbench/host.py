"""Time on a shared virtual machine, net of the CPU time the host stole.

When the physical machine under a VM is oversubscribed, the hypervisor
runs other guests while this guest's vCPUs are ready to run. Linux
counts that time as *steal* in ``/proc/stat``; to the program it looks
like a slower machine. On a 4-vCPU VM the host took up to 49% of the
busy CPU time in some minutes and ~0% in others, so the same
``query_mix`` pass ran in 7.0 s or 14.9 s, and across 12 passes of
one session the pass wall followed the steal share with a correlation
of 0.98.

Every time the benchmark reports is therefore the wall time multiplied
by one minus the share of the guest's busy CPU time that was stolen
during it: the time the interval would have taken had the host not
taken those cycles. In the same 12 passes that figure read 7.0–7.2 s
at no steal and 7.0–8.2 s at 28–49% steal (correlation with the steal
share 0.10). With no steal, or without ``/proc/stat``, it is the wall
time. The raw wall times and steal shares go to the detail record.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) clock ticks over all CPUs since boot; busy counts
    user, nice, system, irq, softirq and steal, not idle or iowait."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the busy ticks between two ``cpu_ticks()`` readings that
    the host stole (0 when no tick passed)."""
    busy = after[1] - before[1]
    return (after[0] - before[0]) / busy if busy > 0 else 0.0


@dataclass(frozen=True)
class Interval:
    wall_s: float
    steal_share: float

    @property
    def seconds(self) -> float:
        """Wall time net of the stolen share."""
        return self.wall_s * (1.0 - self.steal_share)


class Stopwatch:
    """Starts on creation; ``read()`` gives the interval so far."""

    def __init__(self):
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()

    def read(self) -> Interval:
        wall = time.perf_counter() - self._t0
        return Interval(wall, steal_share(self._ticks, cpu_ticks()))
