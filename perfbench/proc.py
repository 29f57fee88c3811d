"""Resource use of this process and all its descendants (the JVM and its
Python workers), read from /proc."""

from __future__ import annotations

import os
import time

TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_kb() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks * TICK_S


class Timer:
    """Wall and process-tree CPU seconds of a ``with`` block."""

    def __enter__(self):
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
        return False
