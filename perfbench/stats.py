"""Small numeric and host helpers: spreads, peak RSS and drift probes.

Nothing here touches Spark, so the helpers are unit-testable without a
session.
"""

from __future__ import annotations

import math
import os
import statistics
import time

# Steal above this marks a run not comparable: steady sets of runs saw
# 0.1-0.5%, and a set with 1.4-11% read run_s 31% slower on the same code.
# The calibration time is no verdict: on the 4-CPU host measured it flips
# between ~22 and ~30 ms from one second to the next, and run_s did not
# follow it.
MAX_STEAL_PCT = 1.0


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def process_tree(pid: int) -> list[int]:
    """pid and all its descendants (the JVM, Python workers, daemons)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


class PeakRss:
    """Peak resident memory of this process tree, summed over processes.

    Each process's VmHWM is its own high-water mark; the sum is an upper
    bound on the tree's simultaneous peak. Python workers that exit are
    sampled while alive, so ``sample`` is called after every operation.
    """

    def __init__(self) -> None:
        self.by_pid: dict[int, int] = {}

    def sample(self) -> None:
        for p in process_tree(os.getpid()):
            self.by_pid[p] = max(self.by_pid.get(p, 0), _status_kb(p, "VmHWM"))

    def mb(self) -> float:
        return sum(self.by_pid.values()) / 1024.0


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def calibrate(rounds: int = 21) -> float:
    """Fastest of ``rounds`` timings of a fixed pure-Python workload; a
    drift control that moves with the host's speed and not with the code
    under test. Preemption only slows a round, so the minimum filters it."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return min(times)


def comparable(drift: dict) -> bool:
    """False when other tenants took enough of the host during a run to
    void comparing its times with another run's."""
    return drift["steal_pct"] <= MAX_STEAL_PCT


def loadavg() -> float:
    return os.getloadavg()[0]
