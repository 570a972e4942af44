"""How fast this host's cores run right now, from a fixed reference
kernel timed between the measured pipeline runs.

The benchmark runs on a few cores of a shared host whose per-core speed
swings with the neighbours' load: the same invocation has run 1.6-2x
faster or slower half an hour apart, every phase alike, with hardly any
time counted as stolen. Such a swing moves the pipeline's wall time and
the kernel's alike, so a run time divided by the kernel time around it
measures the program and not the host. The kernel is plain Python and
numpy in this directory; nothing in the library under test changes it.

The kernel runs in a pool of one forked process per core, each timing
its own pass; a reading is the median of those per-core times, so one
core that is busy with a leftover JVM thread does not decide it.
"""

from __future__ import annotations

import multiprocessing as mp
import time
from statistics import median

import numpy as np

# the kernel's median per-core pass time on the 4-core VM the benchmark
# was tuned on; normalized figures are in that host's seconds
NOMINAL_S = 0.1
READINGS = 5  # readings per block, one block between consecutive runs
WARM_READINGS = 6


def _kernel(n: int) -> float:
    """One pass: an interpreted integer loop and a numpy hash-and-sort,
    the two kinds of work the pipeline's Python UDFs and JVM stages do.
    Returns its own elapsed seconds."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x ^= (i * 2654435761) & 0xFFFFFFFF
    a = np.arange(n * 4, dtype=np.int64) ^ x
    for _ in range(2):
        a = (a * 6364136223846793005 + 1442695040888963407) ^ (a >> 29)
        a.sort()
    return time.perf_counter() - t0


class RefSpeed:
    """Pool of `procs` kernel processes. Start it before the JVM and any
    other thread exists (it forks); close() waits for every worker."""

    N = 300_000  # one pass takes ~NOMINAL_S on the tuning host

    def __init__(self, procs: int) -> None:
        self.procs = procs
        self.pool = mp.get_context("fork").Pool(procs)
        self.blocks: list[list[float]] = []
        # the first passes pay page faults and allocator growth
        for _ in range(WARM_READINGS):
            self.reading()

    def reading(self) -> float:
        return median(self.pool.map(_kernel, [self.N] * self.procs, chunksize=1))

    def block(self) -> None:
        """READINGS readings, kept in order; run i lies between blocks
        i and i+1."""
        self.blocks.append([self.reading() for _ in range(READINGS)])

    def around(self, i: int) -> float:
        """Kernel time around the run that followed block i."""
        return median(self.blocks[i] + self.blocks[i + 1])

    def close(self) -> None:
        self.pool.close()
        self.pool.join()

    def __enter__(self) -> "RefSpeed":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
