"""Host context, CPU and memory readings from /proc (psutil is not needed)."""

from __future__ import annotations

import os
import platform


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate /proc/stat line; None
    when the line is too short to carry the steal field."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    if len(vals) <= 7:
        return None
    return vals[7], sum(vals)


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] == before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks incl. reaped children) from /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:          # exited while listing
            continue
        # fields after the parenthesised command name
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(rest[1]),
                            sum(int(x) for x in rest[11:15]))
    return procs


def _tree(root: int, procs: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and every live descendant: the Python process, its
    JVM and Spark's Python workers.  Time the hypervisor steals is not
    charged to a process, so this does not grow with host contention
    the way wall time does."""
    procs = _procs()
    ticks = sum(procs[p][1] for p in _tree(root, procs) if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    return _tree(root, _procs())[1:]


def context(seed: int) -> dict:
    import pyspark
    return {"cores": cores(), "loadavg_before": loadavg(),
            "spark": pyspark.__version__,
            "python": platform.python_version(), "seed": seed}

