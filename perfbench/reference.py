"""Host speed: a fixed CPU job that runs no code of the program, timed a
few times in every run.

The benchmark runs on a few cores of a shared host whose speed drifts:
within a quarter of an hour every time the benchmark takes rose and fell
by up to 2.5x with no change of code or input, CPU time too, while runs
a minute apart agreed within a few per cent.  The end-to-end times are
reported at the nominal host speed, scaled by ``NOMINAL_S / host_ref_s``
(the median of the job's timings in the run); the raw times go into the
run's context line.
"""

from __future__ import annotations

import time

import numpy as np

# median time of job_s() on the 4-core box the bounds were set on, at a
# quiet time; end-to-end times are scaled to it
NOMINAL_S = 0.22
SAMPLES = 3

_DATA = np.random.default_rng(0).random(8_000_000)


def job_s() -> float:
    """One timing of the job: an interpreted integer loop (the Python
    driver and workers) and a sort of 64 MB of doubles (memory)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    np.sort(_DATA)
    return time.perf_counter() - t0


def samples() -> list[float]:
    return [job_s() for _ in range(SAMPLES)]
