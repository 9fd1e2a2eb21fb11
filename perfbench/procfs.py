"""Process-tree figures read from ``/proc`` (Linux)."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name: state, ppid,
    process group, session, ..., utime, stime, cutime, cstime (11–14)."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(stat(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids``, including the children they
    have reaped (forked Python workers that already exited)."""
    ticks = 0
    for pid in pids:
        try:
            ticks += sum(int(x) for x in stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / TICK


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size of ``pids``: pages shared between processes
    (Python workers forked from one daemon) count once in the sum."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total
