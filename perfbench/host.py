"""Readings of how busy the host is, and the time adjustment built on them.

The benchmark runs on virtual machines that share their physical cores
with other tenants. When those tenants are busy, the hypervisor holds
the VM's CPUs off for part of the time they want to run ("steal"), and
while they do run they share caches and hyperthreads, so every op reads
slower whatever the program does. ``/proc/stat`` counts the stolen
time. ``adjusted`` scales a wall time by ``(1 - s) ** 2``, where ``s``
is the stolen share of the busy CPU time over the same interval: one
factor for the time the CPUs were held off, one for the slower running
that comes with the same contention. With no steal it returns the wall
time unchanged.
"""

from __future__ import annotations

import statistics
import time


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, busy) jiffies over all CPUs since boot, from /proc/stat:
    the time the VM's CPUs wanted to run but the host ran another
    tenant, and that plus the time they did run (user, nice, system)."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, _, _, steal = (int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """The stolen share of the busy CPU time between two ``cpu_jiffies``."""
    busy = end[1] - start[1]
    return (end[0] - start[0]) / busy if busy > 0 else 0.0


def adjusted(seconds: float, steal: float) -> float:
    """``seconds`` of wall time with ``steal`` share stolen, as the same
    work reads on an uncontended host."""
    return seconds * (1.0 - steal) ** 2


def spin_s() -> float:
    """The host's single-core speed now: the median time of five runs of
    a fixed pure-Python loop."""
    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(5))
