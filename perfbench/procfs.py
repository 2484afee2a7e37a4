"""Process-tree readings from ``/proc``: members, liveness, resident
memory and CPU time."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def start_time(pid: int) -> int | None:
    """Start time of a live (non-zombie) process, None otherwise."""
    fields = _stat(pid)
    return None if not fields or fields[0] == "Z" else int(fields[19])


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1 << 20)


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid``'s tree, including children
    that have ended and been waited for."""
    total = 0
    for p in descendants(pid):
        fields = _stat(p)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK

