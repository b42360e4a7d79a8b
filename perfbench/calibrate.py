"""The host's speed per CPU at the time of a run, from a fixed piece of work.

The host the benchmark was sized on is a virtual machine that shares its
physical CPUs with other machines, and the CPU seconds a fixed job takes
drift with their load: back-to-back sets of identical runs differed by a
quarter. ``measure`` runs the same fixed work in one process per CPU, side by
side, and returns the CPU seconds one unit of it took. A CPU figure divided
by that and multiplied by the unit's CPU seconds on the reference host
(``REF_CPU_S``) reads in reference-host CPU seconds. The work is the engine's
kind of work: an interpreted Python loop (the Python workers) and a large
array sort (compiled code, memory-bound).
"""

from __future__ import annotations

import multiprocessing
import os
import statistics
import time

import numpy as np

# CPU seconds of one unit on the reference host (4 CPUs, see README
# "Measurements"): the median of 42 calibrations taken in 21 benchmark runs
REF_CPU_S = 0.36
_UNITS = 3


def _unit(_=None) -> float:
    """One unit of fixed work; returns its CPU seconds."""
    t = time.process_time()
    acc = 0
    for i in range(1_000_000):
        acc += (i * i) % 7
    a = np.random.default_rng(0).random(1 << 21)
    for _ in range(5):
        np.sort(a)
    return time.process_time() - t


def measure() -> float:
    """Median CPU seconds of one unit, over a few units run in one forked
    process per CPU at the same time. The worker processes have ended when
    this returns."""
    n = len(os.sched_getaffinity(0))
    pool = multiprocessing.get_context("fork").Pool(n)
    try:
        cpus = []
        for _ in range(_UNITS):
            cpus += pool.map(_unit, range(n), chunksize=1)
    finally:
        pool.close()
        pool.join()
    return statistics.median(cpus)
