"""CPU noise probe: one fixed kernel per core, run on ``nproc`` threads.

``numpy.sort`` releases the interpreter lock, so on an idle box the
threads run in parallel and the probe reads about the same as one thread
alone; when other work holds the cores, it reads slower. The benchmark
runs it before set-up and after the timed runs and records both readings
beside its numbers. It only annotates a run: no metric is corrected by it.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

SORTS_PER_THREAD = 10
ROUNDS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _kernel(data: np.ndarray) -> None:
    for _ in range(SORTS_PER_THREAD):
        np.sort(data)


def _round(data: np.ndarray, threads: int) -> float:
    pool = [threading.Thread(target=_kernel, args=(data,)) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return time.perf_counter() - t0


def probe() -> dict:
    """Median seconds of ``ROUNDS`` rounds on ``nproc`` threads, and the
    same kernel on one thread; ``ratio`` near 1 means the cores were free."""
    data = np.random.default_rng(0).random(1_000_000)
    n = nproc()
    one = statistics.median(_round(data, 1) for _ in range(ROUNDS))
    all_ = statistics.median(_round(data, n) for _ in range(ROUNDS))
    return {"threads": n, "one_s": round(one, 4), "all_s": round(all_, 4),
            "ratio": round(all_ / one, 3)}

