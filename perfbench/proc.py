"""Process-tree readings from ``/proc``: resident memory and CPU time of a
process and all its descendants (the Python process, its JVM and the
Python workers), and stopping what is left of a tree."""

from __future__ import annotations

import os
import signal
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def start_time(pid: int) -> str | None:
    """The process's start time, or None once it has ended (zombies too)."""
    f = _stat_fields(pid)
    return None if f is None or f[0] == "Z" else f[19]


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def cpu_seconds(root: int) -> float:
    """User plus system CPU of the live tree, including children each
    process has already reaped (utime, stime, cutime, cstime)."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def stop_all(seen: dict[int, str]) -> None:
    """Kill every process seen in the tree that is still the same process,
    then wait until each has ended."""
    deadline = time.monotonic() + 15
    while True:
        alive = [pid for pid, st in seen.items() if start_time(pid) == st]
        if not alive or time.monotonic() > deadline:
            return
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)
