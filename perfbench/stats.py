"""Summary statistics and the run-quality stamp."""

from __future__ import annotations

import math
import os
import statistics
import time


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float,
               min_beyond: int = 10) -> float | None:
    """The ``q``-th percentile (nearest rank), or None when fewer than
    ``min_beyond`` samples lie above it: a tail figure resting on a
    handful of samples is noise, not a measurement."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    value = ordered[rank - 1]
    if sum(1 for v in ordered if v > value) < min_beyond:
        return None
    return value


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies summed over every CPU of the machine."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    ticks = [int(x) for x in fields[1:9]]
    return ticks[7], sum(ticks)


def _git_commit(root: str) -> str | None:
    """HEAD commit read from ``.git`` without running git; None outside a
    git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def calibration_s() -> float:
    """Wall time of a fixed single-threaded Python loop: the machine's
    speed at that moment, so that runs on a contended machine show."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


class RunStamp:
    """Conditions a run was measured under: machine size, cores used,
    hypervisor steal, load average and machine speed across the run, code
    version and seed.  A run with high steal or load is not comparable to a quiet
    one."""

    def __init__(self, root: str, seed: int, cores: int):
        self.root, self.seed, self.cores = root, seed, cores
        self.loadavg_before = os.getloadavg()[0]
        self.calibration_before = calibration_s()
        self._ticks = _cpu_ticks()

    def finish(self) -> dict:
        end = _cpu_ticks()
        steal = None
        if self._ticks and end and end[1] > self._ticks[1]:
            steal = (end[0] - self._ticks[0]) / (end[1] - self._ticks[1])
        return {
            "nproc": os.cpu_count(),
            "cores_used": self.cores,
            "steal_frac": steal,
            "loadavg_before": self.loadavg_before,
            "loadavg_after": os.getloadavg()[0],
            "calibration_s_before": self.calibration_before,
            "calibration_s_after": calibration_s(),
            "git_commit": _git_commit(self.root),
            "seed": self.seed,
        }
