"""The benchmark's process tree: walk it, and stop all of it before exit.

A run starts the Spark JVM, which starts the Python worker daemon, which
forks the workers; the oracle golden starts worker processes of its own.
``adopt_orphans`` makes the run the child subreaper of all of them, so a
process whose parent exits first (the daemon once the JVM is gone) is
re-parented to the run instead of to init, and ``stop_descendants`` can still
terminate it and wait for it to end.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
# How long a descendant may take to exit on SIGTERM before it gets SIGKILL.
STOP_GRACE_S = 10.0


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def adopt_orphans() -> None:
    """Become the child subreaper of every process started from here on."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants() -> None:
    """Terminate every process still running below this one and reap it:
    SIGTERM first, SIGKILL for whatever outlives ``STOP_GRACE_S``. Returns
    once no descendant is left."""
    me = os.getpid()
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        # A zombie counts until it is reaped: by this loop once it is a
        # child here, or by its parent.
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in filter(alive, left):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)
