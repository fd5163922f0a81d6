"""Measurement primitives that need no Spark: process-tree CPU from
``/proc``, the tail-percentile rule, medians and host evidence."""

from __future__ import annotations

import os
import statistics
import time

# samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: the (TAIL_BEYOND+1)-th largest sample, which is the
    100·(1 − TAIL_BEYOND/n)-th percentile of n samples. With fewer than
    2·TAIL_BEYOND samples no percentile above the median qualifies, so
    the median is reported and ``ok`` is False."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(samples)
    if n < 2 * TAIL_BEYOND:
        return {"value": statistics.median(s), "percentile": 50.0, "n": n, "ok": False}
    return {
        "value": s[n - TAIL_BEYOND - 1],
        "percentile": round(100.0 * (1 - TAIL_BEYOND / n), 2),
        "n": n,
        "ok": True,
    }


def _stat_fields(pid: str) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of /proc/<pid>/stat, or
    None if the process is gone. The command name is parenthesised and
    may hold spaces, so split after its closing bracket."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by process ``root`` (default: this one) and all
    its live descendants, including what each has collected from its
    exited children (cutime/cstime). Here the tree is the driver's
    Python, the JVM it launched and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat_fields(pid)
        if st is None:
            continue
        ppid, f = st
        children.setdefault(ppid, []).append(int(pid))
        # fields 14-17 of stat: utime stime cutime cstime (0-based 11-14 here)
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostProbe:
    """Host evidence bracketing a run: load average before and after and
    the hypervisor steal share of all CPU time in between. Recorded, never
    gated on: a contaminated run must be visible from its artifact."""

    def __init__(self) -> None:
        self.load_before = [round(x, 2) for x in os.getloadavg()]
        self._cpu_before = _cpu_line()
        self._t0 = time.time()

    def finish(self) -> dict:
        after = _cpu_line()
        delta = [a - b for a, b in zip(after, self._cpu_before)]
        total = sum(delta[:8])  # user..steal; guest is already in user
        return {
            "load_before": self.load_before,
            "load_after": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round(delta[7] / total, 4) if total else None,
            "nproc": nproc(),
            "cpu_count": os.cpu_count(),
            "seconds": round(time.time() - self._t0, 1),
        }
