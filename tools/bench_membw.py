"""Memory-bandwidth probe (STREAM-triad style) for the scaling evidence.

The executor-emulation bench (BENCH/executors.md) shows per-process
slowdown when 4 pinned Spark processes run concurrently. This probe
measures whether the box's DRAM bandwidth saturates below 32 cores —
if aggregate triad bandwidth stops growing past ~8-16 workers, any
memory-traffic-heavy workload (Arrow IPC, parquet decode, GEMM panels
spilling L2) is hardware-capped and no framework can scale past it on
this box; separate machines (the real cluster) would each bring their
own memory controllers.

Each worker pins itself to one core, allocates 3 x 64 MiB float64 arrays
(far beyond LLC), and runs triad a = b + 2.5*c with numpy. Reported GB/s
counts 3 streams x 8 bytes.

Usage: python tools/bench_membw.py [workers ...]   (default 1 8 16 32)
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

N = 8 * 1024 * 1024  # 64 MiB per array
REPS = 10


def _triad(core: int) -> float:
    import numpy as np

    os.sched_setaffinity(0, {core})
    b = np.random.default_rng(core).random(N)
    c = np.random.default_rng(core + 1).random(N)
    a = np.empty_like(b)
    np.add(b, 2.5 * c, out=a)  # warm pages
    t0 = time.perf_counter()
    for _ in range(REPS):
        np.multiply(c, 2.5, out=a)
        np.add(a, b, out=a)
    dt = time.perf_counter() - t0
    # per rep: read b, read c, write a (+ the temped write/read of a in
    # the two-op triad; count the classic 3 streams to stay comparable)
    return 3.0 * 8.0 * N * REPS / dt / 1e9


def measure(workers: int) -> dict:
    ctx = mp.get_context("spawn")
    with ctx.Pool(workers) as pool:
        gbs = pool.map(_triad, range(workers))
    return {
        "workers": workers,
        "aggregate_gb_s": round(sum(gbs), 1),
        "per_core_gb_s": round(sum(gbs) / workers, 2),
    }


def main():
    sizes = [int(x) for x in sys.argv[1:]] or [1, 8, 16, 32]
    out = [measure(w) for w in sizes]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
