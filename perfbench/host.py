"""Host evidence and process-tree readings from ``/proc``.

The per-CPU and per-tree readers are the ones ``markmuse_spark.bench_worker``
already uses for the frozen scaling bench; this module only composes them
into one window per timed pass.
"""

from __future__ import annotations

import os

from markmuse_spark.bench_worker import _percpu_stat, _pinned_cpus, _tree_jiffies

from procs import descendants

HZ = os.sysconf("SC_CLK_TCK")


class HostWindow:
    """Steal, foreign-busy and occupancy shares over this process's CPU
    set for one window.  ``tree_root`` is the process whose descendants
    count as ours (the benchmark process: it owns the JVM and workers)."""

    def __init__(self, tree_root: int) -> None:
        self.cpus = _pinned_cpus()
        self.root = tree_root
        self._stat0 = _percpu_stat(self.cpus)
        self._tree0 = _tree_jiffies(self.root)

    def close(self) -> dict:
        stat1 = _percpu_stat(self.cpus)
        tree1 = _tree_jiffies(self.root)
        out = {"nproc": len(self.cpus), "steal_pct": None, "foreign_pct": None, "occupancy_pct": None}
        s0 = self._stat0
        if not (s0 and stat1 and stat1[0] > s0[0]):
            return out
        tot = stat1[0] - s0[0]
        steal = stat1[2] - s0[2]
        out["steal_pct"] = 100.0 * steal / tot
        if self._tree0 is not None and tree1 is not None:
            ours = tree1 - self._tree0
            busy = tot - (stat1[1] - s0[1]) - steal
            out["foreign_pct"] = 100.0 * max(0, busy - ours) / tot
            out["occupancy_pct"] = 100.0 * ours / tot
        return out


def tree_cpu_s(root: int) -> float:
    """utime + stime of ``root`` and its live descendants, in seconds."""
    j = _tree_jiffies(root)
    if j is None:
        raise RuntimeError("cannot read /proc process times")
    return j / HZ


def python_workers(jvm_pid: int) -> list[int]:
    """The Spark Python daemon and its forked workers (all Python
    processes under the JVM)."""
    pids = []
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    pids.append(p)
        except OSError:
            continue
    return pids


def peak_rss_mb(pids: list[int]) -> float:
    """Largest ``VmHWM`` (peak resident set) among ``pids``, in MiB."""
    best = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
                        break
        except OSError:
            continue
    return best / 1024.0
