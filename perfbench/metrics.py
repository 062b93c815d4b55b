"""Helpers for the benchmark's numbers: percentiles, due-time latency
accounting, metric-name syntax and peak memory.  Nothing here starts Spark,
so the tests for these rules run in milliseconds."""

from __future__ import annotations

import math
import re
import statistics
import time

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

TAIL_CANDIDATES = (99.9, 99, 95, 90, 75)
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def tail_percentile(n: int, candidates=TAIL_CANDIDATES) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when ``n`` is too small for any of them.

    Counted in thousandths so 90 of 100 samples leaves exactly ten beyond
    (float ``100 * (1 - 0.9)`` is 9.999...)."""
    for p in sorted(candidates, reverse=True):
        if n * (100_000 - round(p * 1000)) >= MIN_BEYOND * 100_000:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``p``% of
    samples at or below it); ``percentile(v, 50)`` is the lower median."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def median(values) -> float:
    return statistics.median(values)


def tick_latencies(due: dict, consumed_by: dict, commit: dict) -> dict:
    """Latency of each committed poll: commit time of the micro-batch that
    consumed it minus the poll's scheduled due time.

    ``due`` maps poll -> due time, ``consumed_by`` poll -> batch id and
    ``commit`` batch id -> commit time.  Polls that no committed batch
    consumed are left out; timing from the due time (not from when the
    generator actually wrote the file) charges a late generator or a stalled
    pipeline to every poll queued behind it."""
    out = {}
    for poll, t_due in due.items():
        batch = consumed_by.get(poll)
        if batch is not None and batch in commit:
            out[poll] = commit[batch] - t_due
    return out


def max_backlog(written: dict, committed_at: dict) -> int:
    """Largest number of polls written but not yet committed, sampled at
    every write and commit instant.  ``written`` and ``committed_at`` map
    poll -> time; a poll never committed stays in the backlog."""
    events = sorted(
        [(t, 1) for t in written.values()] + [(t, -1) for t in committed_at.values()],
        key=lambda e: (e[0], e[1]),
    )
    depth = peak = 0
    for _, step in events:
        depth += step
        peak = max(peak, depth)
    return peak


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus the JVM it drives."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (/proc/stat, first line)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def busy_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time this guest's threads wanted between two ``cpu_ticks``
    readings, the share they got: busy / (busy + steal), where busy is user,
    nice, system, irq and softirq time and steal is time the hypervisor
    gave to other guests.  1.0 on a machine nobody else shares."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    steal = d[7] if len(d) > 7 else 0
    return busy / (busy + steal) if busy + steal else 1.0


class StealClock:
    """Wall-clock interval timer that also reports the interval net of
    hypervisor steal: ``wall * busy_share``.  On a shared virtual machine
    other guests' load stretches every wall time by a varying amount; the
    net time is what the interval would have taken had the guest got the
    CPU time it asked for."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.ticks = cpu_ticks()

    def stop(self) -> tuple[float, float, float]:
        """(wall seconds, steal-corrected seconds, busy share)."""
        wall = time.perf_counter() - self.t
        share = busy_share(self.ticks, cpu_ticks())
        return wall, wall * share, share
