"""Process-tree CPU, host steal and memory, read from /proc.

The benchmark's cost metric is the CPU time of the whole process tree
(the driver, the Spark JVM and the Python workers it forks). On a
shared VM the hypervisor steals CPU from the guest; stolen time is
charged to no process, so CPU seconds per document repeat where wall
throughput does not.

Counting rule: for the root and every live descendant, add
utime + stime + cutime + cstime. A process's cutime/cstime hold only
children it has already reaped, and a live process's own times never
appear in its parent's, so each CPU second is counted once whether its
process is alive, a zombie, or reaped inside the window.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'; fields[0] is then the state (field 3 of proc(5))
    return s[s.rfind(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out: list[int] = []
    stack = [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and all of its descendants."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime: fields 14-17 of proc(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and its live descendants, in MiB."""
    root = os.getpid() if root is None else root
    pages = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is not None:
            pages += int(f[21])  # rss: field 24 of proc(5)
    return pages * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    # user nice system idle iowait irq softirq steal (guest time is
    # already inside user and nice)
    vals = [int(x) for x in parts[1:9]]
    return vals[7], sum(vals)


@dataclass(frozen=True)
class Sample:
    wall: float
    cpu: float
    steal: int
    total: int


def sample() -> Sample:
    steal, total = host_cpu_ticks()
    return Sample(time.monotonic(), tree_cpu_s(), steal, total)


@dataclass(frozen=True)
class Window:
    """The difference between two samples."""

    wall_s: float
    cpu_s: float
    steal_frac: float
    cpu_util: float


def window(a: Sample, b: Sample) -> Window:
    wall = b.wall - a.wall
    ticks = b.total - a.total
    return Window(
        wall_s=wall,
        cpu_s=b.cpu - a.cpu,
        steal_frac=(b.steal - a.steal) / ticks if ticks else 0.0,
        cpu_util=(b.cpu - a.cpu) / (wall * (os.cpu_count() or 1)) if wall else 0.0,
    )
