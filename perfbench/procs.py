"""The benchmark's own process tree: adopt orphans, list, wait for all.

The Spark Python daemon and its workers are forked by the JVM and outlive
it by a moment.  ``adopt_orphans`` makes this process their reaper once
the JVM is gone, so ``reap_children`` can wait for every process the
benchmark started, however deep, before the benchmark exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def adopt_orphans() -> None:
    """Make orphaned descendants children of this process (Linux
    ``PR_SET_CHILD_SUBREAPER``) instead of init's."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(root: int) -> list[int]:
    """Pids of the live descendants of ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                data = f.read()
        except OSError:
            continue
        ppid = int(data[data.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out: list[int] = []
    stack = list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def reap_children(grace_s: float = 30.0) -> list[int]:
    """Wait until this process has no child left, killing the descendants
    still running after ``grace_s`` seconds; returns the killed pids."""
    deadline = time.monotonic() + grace_s
    killed: set[int] = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return sorted(killed)
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    continue
                killed.add(p)
        time.sleep(0.05)
