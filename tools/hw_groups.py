"""Framework-free emulation of a 4-executor process topology.

Runs the SAME per-chunk kernel workload as hw_ceiling.py, in the
process/pinning layout of four pinned Spark executors: '1 executor' =
one 8-worker pool pinned to cores 0-7 computing ALL docs; '4 executors' =
four concurrent 8-worker pools, each pinned to its own 8-core range,
each computing a quarter of the docs, barrier-started.

efficiency = T_1group / (4 * T_4group). Whatever this number is, it is
the hardware ceiling for the executor-emulation efficiency recorded in
BENCH/executors_latest.json — the gap between the two is the framework
(JVM + Arrow IPC + scheduling) cost, and the gap from 1.0 here is the
shared-DRAM cost a real multi-machine cluster does not pay.

Usage: python tools/hw_groups.py   (env: GROUP_CORES=8, GROUP_DOCS=768,
GROUP_TOKENS=30000)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# NOTE: the worker must run from a real FILE (not `python -c`) — the pool
# uses the spawn start method, and spawn children re-import __main__ from
# the script path to resolve the pickled-by-reference `work` function; a
# -c parent has no importable __main__ (hang), and without the __main__
# guard the re-import would re-execute the whole script (nested pools).
WORKER = r"""
import json, multiprocessing as mp, os, sys, time
for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[v] = "1"
sys.path.insert(0, {repo!r})


def work(args):
    seed, tokens = args
    import numpy as np
    from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG as cfg
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import _get_kernel

    kernel = _get_kernel(cfg)
    rng = np.random.default_rng(seed)
    tok = np.rint(np.clip(0.8 + 0.1 * rng.standard_normal(tokens), 0.4, 1.5) * 1000).astype(np.int64)
    rr = tok / 1000.0
    rr_t = np.cumsum(rr)
    n_samples = int(tok.sum()) * cfg.sampling_rate // 1000
    n_win = (n_samples - cfg.window_samples()) // cfg.step_samples() + 1
    ids, feats = kernel.windows_for_chunk(rr, rr_t, 0, n_win)
    return len(ids)


if __name__ == "__main__":
    cores, lo, seeds_lo, seeds_hi, barrier_dir, n_groups, tag, tokens = (
        int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
        sys.argv[5], int(sys.argv[6]), sys.argv[7], int(sys.argv[8]))
    os.sched_setaffinity(0, range(lo, lo + cores))

    ctx = mp.get_context("spawn")
    pool = ctx.Pool(cores)
    # warm: imports + Lomb-Scargle design cache in every worker
    pool.map(work, [(s, tokens) for s in range(seeds_lo, seeds_lo + cores)])

    open(os.path.join(barrier_dir, "ready-" + tag), "w").close()
    while len([f for f in os.listdir(barrier_dir) if f.startswith("ready-")]) < n_groups:
        time.sleep(0.05)

    t0 = time.time()
    wins = sum(pool.map(work, [(s, tokens) for s in range(seeds_lo, seeds_hi)]))
    dt = time.time() - t0
    pool.close(); pool.join()
    print(json.dumps({{"tag": tag, "windows": wins, "compute_s": round(dt, 2)}}))
"""


def run_groups(n_groups: int, cores: int, n_docs: int, tokens: int) -> tuple[float, int]:
    per = n_docs // n_groups
    with tempfile.TemporaryDirectory() as barrier:
        script_path = os.path.join(barrier, "worker.py")
        with open(script_path, "w") as f:
            f.write(WORKER.format(repo=REPO))
        procs = []
        for i in range(n_groups):
            procs.append(
                subprocess.Popen(
                    [sys.executable, script_path, str(cores), str(i * cores),
                     str(i * per), str((i + 1) * per), barrier, str(n_groups),
                     f"g{i}", str(tokens)],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                )
            )
        results = []
        for p in procs:
            out, _ = p.communicate(timeout=3600)
            for line in reversed(out.strip().splitlines()):
                if line.strip().startswith("{"):
                    results.append(json.loads(line))
                    break
    wall = max(r["compute_s"] for r in results)
    wins = sum(r["windows"] for r in results)
    return wall, wins


def main():
    cores = int(os.environ.get("GROUP_CORES", "8"))
    n_docs = int(os.environ.get("GROUP_DOCS", "768"))
    tokens = int(os.environ.get("GROUP_TOKENS", "30000"))
    t1, w1 = run_groups(1, cores, n_docs, tokens)
    print(f"1 group  x {cores} pinned workers: {t1}s ({w1} windows, {round(w1/t1)}/s)")
    t4, w4 = run_groups(4, cores, n_docs, tokens)
    print(f"4 groups x {cores} pinned workers: {t4}s ({w4} windows, {round(w4/t4)}/s)")
    assert w1 == w4, (w1, w4)
    eff = t1 / (4.0 * t4)
    print(json.dumps({"hw_groups_efficiency": round(eff, 3), "t1": t1, "t4": t4}))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    with open(os.path.join(repo, "BENCH", "hw_groups_latest.json"), "w") as f:
        json.dump(
            {"group_ceil": round(eff, 3), "t1": t1, "t4": t4, "cores": cores,
             "measured_at": time.time()},
            f,
        )


if __name__ == "__main__":
    main()
