"""Summary statistics and process probes shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics

#: Percentiles the tail rule chooses from, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile in :data:`TAIL_PERCENTILES` that leaves at
    least ``beyond`` of ``n`` samples above it, or None when even the
    median does not."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median plus the tail percentile the rule allows, with the sample
    count the reader needs to judge both."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency: every
    kind weighs the same however long it takes or however often it ran."""
    meds = [statistics.median(xs) for xs in samples.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """``/proc/<pid>/stat`` fields from the state on (field 3 is index 0)."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2:].split()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, by
    ``root_pid`` and the children it reaped, and by every live descendant
    of ``root_pid`` (the JVM's Python workers).

    Host contention shows up as steal time, which no process is charged
    for, so this clock reads the same work alike on a busy and an idle
    host where wall time can differ by half."""
    me = os.times()
    total = me.user + me.system
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parents[int(entry)] = int(_stat_fields(entry)[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    todo, tree = [root_pid], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(c for c, pp in parents.items() if pp == pid)
    for pid in tree:
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks = int(f[11]) + int(f[12])
        if pid == root_pid:
            ticks += int(f[13]) + int(f[14])
        total += ticks / _TICK
    return total
