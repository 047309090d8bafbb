"""CPU and resident memory of this process and everything it started, read
from /proc (psutil is not a dependency).

Roles: ``driver`` is this Python process; ``jvm`` is the Spark JVM it
launched; ``pyworker`` is every Python process below the JVM (the PySpark
daemon and the workers it forks).  CPU of a process counts its own user +
system time plus that of its reaped children, so a worker that exits
between two snapshots still counts through the daemon that reaped it.
"""

from __future__ import annotations

import os

ROLES = ("driver", "jvm", "pyworker")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return raw[lpar + 1:rpar], int(fields[1]), ticks / _TICK


def _tree(root: int) -> dict[int, tuple[str, float]]:
    """pid -> (role, cpu seconds) for root and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    if root not in stats:
        return {}
    out = {root: ("driver", stats[root][2])}
    todo = [(root, "driver")]
    while todo:
        pid, role = todo.pop()
        for child in children.get(pid, ()):
            comm = stats[child][0]
            if role == "driver":
                crole = "jvm" if comm == "java" else "driver"
            else:
                crole = "jvm" if role == "jvm" and comm == "java" else "pyworker"
            out[child] = (crole, stats[child][2])
            todo.append((child, crole))
    return out


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far, split by role."""
    tot = dict.fromkeys(ROLES, 0.0)
    for role, cpu in _tree(root or os.getpid()).values():
        tot[role] += cpu
    return tot


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Each role's summed peak resident set (VmHWM) over the live process
    tree.  Forked workers share pages with the daemon, so the sum is the
    peak as the kernel charges it per process, an upper bound on the peak
    of the summed RSS."""
    tot = dict.fromkeys(ROLES, 0.0)
    for pid, (role, _) in _tree(root or os.getpid()).items():
        tot[role] += _hwm_kb(pid) / 1024.0
    return tot


def tree_pids(root: int | None = None) -> list[int]:
    """This process (or root) and its live descendants."""
    return list(_tree(root or os.getpid()))
