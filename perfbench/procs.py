"""Process-tree helpers: peak resident memory and child clean-up.

The engine runs as a tree under the benchmark process: the driver JVM,
the Python worker daemon it forks and the workers that daemon forks.
"""

from __future__ import annotations

import os
import signal
import time


def since_process_start() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_peak_rss(root: int) -> dict:
    """pid -> peak resident bytes (the kernel's VmHWM high-water mark) of
    every live process in the tree under ``root``, root included. Read at
    the end of a window, so no sampler runs beside the timed calls; the
    sum over processes bounds the tree's simultaneous peak from above."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return out


def reap_children(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to exit; SIGKILL what outlives
    ``timeout`` and return those pids."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
    left = descendants(me)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left
