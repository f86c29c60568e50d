"""Host canary: fixed work that measures the machine, not the engine.

Runs on a shared VM have swung 2x on identical code, so every
run records how fast the host was: a single-thread md5 loop (CPU), a
512 MB streaming sum (memory bandwidth, where neighbour load shows first),
the 1-minute load average, and the share of CPU time the hypervisor stole
during the run (from ``/proc/stat``).
"""

from __future__ import annotations

import hashlib
import time

import numpy as np


def probe() -> dict:
    t0 = time.perf_counter()
    h = b"linkbench-canary"
    for _ in range(400_000):
        h = hashlib.md5(h).digest()
    md5_s = time.perf_counter() - t0
    a = np.ones(64 * 1024 * 1024, dtype=np.float64)      # 512 MB
    t0 = time.perf_counter()
    a.sum()
    mem_s = time.perf_counter() - t0
    del a
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"md5_400k_s": round(md5_s, 4), "memsum_512mb_s": round(mem_s, 4),
            "loadavg_1m": load1}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return round(100.0 * (end[0] - start[0]) / total, 3) if total else 0.0
