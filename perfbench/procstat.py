"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is this Python driver plus every descendant: the Spark driver
JVM and the Python workers it forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ")" is space-separated
    return s[s.rfind(")") + 2:].split()


def tree(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User+system seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024
