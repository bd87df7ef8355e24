"""Summary statistics and process-level probes (no Spark needed)."""

from __future__ import annotations

import math
import os

TAIL_GRID = (50, 75, 90, 95, 99)
TAIL_MIN_BEYOND = 10


def nearest_rank(xs: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank p-th percentile of ``xs`` and how many samples
    lie beyond its rank."""
    s = sorted(xs)
    r = max(1, math.ceil(p / 100.0 * len(s)))
    return s[r - 1], len(s) - r


def tail(xs: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond) for the highest percentile
    of ``TAIL_GRID`` that still has at least ``TAIL_MIN_BEYOND``
    samples beyond it.  With fewer than 20 samples no grid point
    qualifies and the median is returned, with its (short) count."""
    best = TAIL_GRID[0]
    for p in TAIL_GRID:
        if nearest_rank(xs, p)[1] >= TAIL_MIN_BEYOND:
            best = p
    value, beyond = nearest_rank(xs, best)
    return value, best, beyond


def sum_of_best(per_op: dict[str, list[float]]) -> float:
    """Sum over ops of each op's least value: the cost of one pass over
    the ops with every op at its best observed run, so that a stall of
    the shared host during one run of one op does not count."""
    return sum(min(vs) for vs in per_op.values())


# ------------------------------------------------------------ probes --

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of ``root`` (default: this process) and
    every live descendant, plus what they reaped from exited children
    (JVM, Python workers)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # after the comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        children.setdefault(int(f[1]), []).append(int(pid))
        cpu[int(pid)] = sum(int(x) for x in f[11:15]) / _TICK
    total, todo = 0.0, [root]
    while todo:
        p = todo.pop()
        total += cpu.get(p, 0.0)
        todo.extend(children.get(p, ()))
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot: the time a
    hypervisor ran other guests on this machine's virtual CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice,
    # already counted in user and nice]
    return fields[7], sum(fields[:8])


def peak_rss_mb() -> float:
    """VmHWM of this process in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")
