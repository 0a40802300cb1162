"""Host facts for the artifact stamp, read from ``/proc``.

CPU time is summed over this process and every descendant (the Spark
JVM, the pyspark daemon and its workers), including the time of children
already reaped, so ``cpu_s`` is the cost of the work however the host
schedules it; hypervisor steal does not move it.  Steal itself is read
from ``/proc/stat`` so a run can say how noisy its host was.
"""

from __future__ import annotations

import os
import platform
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_total: int) -> int:
    """A quarter of the host's memory, within [1 GB, 16 GB]: the engine's
    16 GB default is never requested on a host that cannot give it."""
    return int(min(max(mem_total // 4, 1 << 30), 16 << 30) >> 20)


def cpu_ticks() -> tuple[int, int]:
    """(all jiffies, steal jiffies) summed over every cpu."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / total if total > 0 else 0.0


def tree_cpu_s() -> float:
    """User+system seconds of this process and all its descendants,
    reaped children included."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = raw.rsplit(")", 1)[1].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        used[pid] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def calib_s() -> float:
    """A fixed numpy sort plus a pure-Python loop: its time moves only
    with the host, so it tells host drift apart from program changes."""
    x = np.random.default_rng(0).standard_normal(1_000_000)
    t = time.perf_counter()
    np.sort(x)
    acc = 0
    for i in range(300_000):
        acc += i * i
    return time.perf_counter() - t


def stamp(heap_mb: int, spark_version: str) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "driver_heap_mb": heap_mb,
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "host": platform.node(),
    }
