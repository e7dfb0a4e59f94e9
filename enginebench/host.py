"""Host-contention stamps for a run's detail line (metadata, not metrics).

On a shared host the benchmark's wall times move with what else runs.
These readings let a throttled run be told apart from a slow program:
a fixed single-core pass, the share of CPU time the hypervisor stole,
and the CPU seconds the run's own process tree used.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def probe() -> float:
    """Seconds for a fixed single-core numpy pass over 32 MB (throttled
    windows read several times slower)."""
    import numpy as np

    a = np.arange(4_000_000, dtype=np.int64)
    t0 = time.perf_counter()
    for _ in range(10):
        a = a * 3
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user
    return fields[7], sum(fields[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of process ``root`` (default: this one)
    and all its live descendants — the driver, the JVM and its Python
    workers."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        # fields after "(comm)": state ppid ... utime(12) stime(13)
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        cpu[pid] = int(rest[11]) + int(rest[12])
    total = 0
    for pid in cpu:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += cpu[pid]
    return total / _TICK
