"""Host-speed probe: a fixed pure-Python CPU task timed on every core.

The shared 4-core box this benchmark runs on changes speed by 25-35% for
minutes at a time (other tenants), which moves every timing of a run
together — JVM start, Spark jobs, Python extraction alike. The probe runs
one fixed task per core between operations, while Spark is idle, and the
run scales its timings to a nominal probe time, so runs made in a slow
and a fast phase read alike. The task uses no program code: a program
change cannot move it.
"""

from __future__ import annotations

import re
import statistics
import time

# median per-core probe time in a quiet phase of the 4-core box the
# benchmark was tuned on; timings are reported as if the probe took this
NOMINAL_S = 0.25

_TEXT = "".join(f"<p class=c{i % 7}>w{i % 97} v{i % 89} &amp; x{i % 13}</p>\n" for i in range(1500))
_TAG = re.compile(r"<[^>]*>")
_ROUNDS = 128


def probe_task(_=None) -> float:
    """Seconds this process takes for the fixed task."""
    t0 = time.perf_counter()
    acc = 0
    for _ in range(_ROUNDS):
        parts = _TAG.split(_TEXT)
        text = " ".join(" ".join(parts).split())
        counts: dict = {}
        for w in text.split(" "):
            counts[w] = counts.get(w, 0) + 1
        acc += len(counts) + len(text)
    if acc <= 0:
        raise AssertionError("probe task did no work")
    return time.perf_counter() - t0


class HostSpeed:
    """Probe samples of one run, taken on a process pool of one worker per
    core (the same pool later rebuilds the reference hashes)."""

    def __init__(self, pool, procs: int):
        self.pool = pool
        self.procs = procs
        self.samples: list[float] = []

    def warm(self) -> None:
        """Wait until every worker has started; the first round, run while
        others still import, is not a sample."""
        self.pool.map(probe_task, range(self.procs), chunksize=1)

    def sample(self) -> None:
        self.samples.append(statistics.median(self.pool.map(probe_task, range(self.procs), chunksize=1)))

    def scale(self) -> float:
        """Factor that maps this run's timings to the nominal host speed."""
        return NOMINAL_S / statistics.median(self.samples)
