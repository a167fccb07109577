"""Host state for the benchmark: load, hypervisor steal, peak memory and
the contamination verdict of the README's bench acceptance rule."""

from __future__ import annotations

import os
import statistics


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs, from the first line
    of /proc/stat; busy is every field but idle, iowait and steal
    (guest time is already inside user)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    vals += [0] * (8 - len(vals))
    steal = vals[7]
    return sum(vals) - vals[3] - vals[4] - steal, steal, sum(vals)


def steal_pct(start: tuple[int, int, int], end: tuple[int, int, int]) -> float:
    total = end[2] - start[2]
    return 100.0 * (end[1] - start[1]) / total if total > 0 else 0.0


def unstolen(start: tuple[int, int, int], end: tuple[int, int, int]) -> float:
    """Share of the CPU time this machine's threads wanted between two
    readings that the hypervisor gave them: busy / (busy + steal).
    Work that got this share of the CPU time it wanted ran at this
    share of its speed on an unshared host, so ``wall * unstolen`` is
    the wall time it would have taken there."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm(pid: int | str) -> None:
    """Restart a process's VmHWM from its current RSS (Linux >= 4.0)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def verdict(
    load_start: list[float],
    steal: float,
    samples: dict[str, list[float]],
) -> dict:
    """The README rule: a run is contaminated by host contention when
    steal >= 3 %, load1 at start > 2, or several queries (two or more)
    have a median/min spread above 1.5 over the measured passes."""
    spreads = {
        q: statistics.median(v) / min(v)
        for q, v in samples.items()
        if len(v) >= 2 and min(v) > 0
    }
    wide = sorted(q for q, r in spreads.items() if r > 1.5)
    reasons = []
    if steal >= 3.0:
        reasons.append(f"steal {steal:.2f}% >= 3%")
    if load_start[0] > 2.0:
        reasons.append(f"load1 {load_start[0]:.2f} > 2")
    if len(wide) >= 2:
        reasons.append(f"median/min > 1.5 on {wide}")
    return {
        "contaminated": bool(reasons),
        "reasons": reasons,
        "load_start": load_start,
        "steal_pct": round(steal, 3),
        "median_over_min": {q: round(r, 3) for q, r in sorted(spreads.items())},
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))
