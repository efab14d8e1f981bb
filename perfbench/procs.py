"""Every process a run starts ends before the run does.

Spark's JVM starts the Python worker daemon, which forks the workers into
a process group of its own.  Stopping the JVM ends them only eventually:
the daemon and its workers can outlive the benchmark, re-parented to init.
``adopt_orphans`` makes this process their reaper instead, so
``stop_descendants`` can find each of them, stop it and wait for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Have every orphaned descendant re-parented to this process."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live or unreaped process below ``root`` (this
    process by default)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0, limit_s: float = 30.0) -> list[int]:
    """SIGTERM every descendant, SIGKILL those alive after ``grace_s``, and
    reap until none is left.  Returns the pids that were still there at
    ``limit_s`` (none, unless one hangs in the kernel)."""
    start = time.monotonic()
    termed: set[int] = set()
    while True:
        _reap()
        left = descendants()
        elapsed = time.monotonic() - start
        if not left or elapsed > limit_s:
            return left
        for pid in left:
            if elapsed <= grace_s and pid in termed:
                continue
            try:
                os.kill(pid, signal.SIGTERM if elapsed <= grace_s else signal.SIGKILL)
            except ProcessLookupError:
                pass
            termed.add(pid)
        time.sleep(0.02)
