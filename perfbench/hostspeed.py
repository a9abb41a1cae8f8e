"""Host speed, sampled beside the program.

The 4-core host the benchmark runs on shares its physical cores with other
tenants. Depending on their load, the same pass costs the program up to
twice the CPU time (and wall time), in spells that last minutes; steal
time does not show it. ``HostSpeed`` runs a separate process that every
``INTERVAL`` seconds times one unit of fixed work that does not touch the
program (a Python loop, a numpy sort and a streaming numpy reduction) in
CPU seconds, so that a run can scale its CPU figures to a fixed host
speed: ``value * REF_S / unit_s``, where ``unit_s`` is the median unit
time over the same span of the run.

    python3 perfbench/hostspeed.py <samples file>

runs the sampler until it is terminated.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time

# a round figure near the median unit time on the 4-core reference host
# under its usual load (0.021-0.024 s); scaled figures read as CPU seconds
# on a host that runs the unit in REF_S
REF_S = 0.02
INTERVAL = 0.5


def _unit(small, big) -> None:
    import numpy as np

    acc = 0
    for j in range(150_000):
        acc += j * j % 7
    np.sort(small)
    float(big.sum())


def sample(path: str) -> None:
    import numpy as np

    rng = np.random.default_rng(0)
    small, big = rng.random(50_000), rng.random(2_000_000)
    _unit(small, big)  # page in the arrays and the code
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    with open(path, "w") as f:
        while not stop:
            t0 = time.thread_time()
            _unit(small, big)
            f.write(f"{time.time()!r} {time.thread_time() - t0!r}\n")
            f.flush()
            time.sleep(INTERVAL)


class HostSpeed:
    """The sampler process, started on enter and stopped (and reaped) on
    exit. ``unit_s(t0, t1)`` is the median unit time sampled between the
    wall-clock times ``t0`` and ``t1``."""

    def __init__(self, path: str):
        self._path = path
        self.proc: subprocess.Popen | None = None

    def __enter__(self):
        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), self._path])
        return self

    def __exit__(self, *exc):
        self.proc.terminate()
        self.proc.wait(timeout=60)

    def unit_s(self, t0: float, t1: float) -> float:
        with open(self._path) as f:
            samples = [tuple(map(float, line.split())) for line in f if line.endswith("\n")]
        inside = [u for t, u in samples if t0 <= t <= t1]
        if not inside:  # a span shorter than one interval: the nearest sample
            inside = [min(samples, key=lambda s: abs(s[0] - t1))[1]]
        return statistics.median(inside)


if __name__ == "__main__":
    sample(sys.argv[1])
