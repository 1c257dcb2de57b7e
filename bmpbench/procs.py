"""The processes a run starts (Spark's JVM, its Python worker daemon and
workers, the one-core child run): find them, end them, wait for them.

A process is named by its pid and its start time, so a pid the kernel
hands out again is not mistaken for the process that had it.
"""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, start time) of ``pid``, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1]), int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def tree(root: int | None = None) -> dict[int, int]:
    """pid -> start time of every live descendant of ``root`` (this
    process by default)."""
    root = os.getpid() if root is None else root
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            info[int(name)] = st
    out = {}
    for pid, (state, _, start) in info.items():
        p = pid
        while p > 1 and p != root:
            p = info[p][1] if p in info else 0
        if p == root and pid != root and state != "Z":
            out[pid] = start
    return out


def _alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[2] == start and st[0] != "Z"


def end(procs: dict[int, int], grace: float = 15.0) -> None:
    """Give ``procs`` ``grace`` seconds to exit on their own, kill the
    ones still there, and return once every one has ended."""
    deadline = time.monotonic() + grace
    while any(_alive(p, s) for p, s in procs.items()) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p, s in procs.items():
        if _alive(p, s):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 20.0
    while any(_alive(p, s) for p, s in procs.items()) and time.monotonic() < deadline:
        time.sleep(0.05)
