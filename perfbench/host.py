"""Host-side measurements that need no Spark: a CPU probe, /proc/stat
deltas over a window, and the peak RSS of a process tree; and the
process-tree housekeeping that makes sure a run leaves no process behind.

Linux only (reads /proc). Nothing here touches a file at import time.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import signal
import time


def probe_s(rounds: int = 20000) -> float:
    """Wall time of a fixed single-thread CPU kernel (chained SHA-256).

    The same work on every call, so a slow reading means a slow host
    window, not a slow program.
    """
    h = b"perfbench"
    t0 = time.perf_counter()
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_window(before: list[int], after: list[int], n_cpus: int) -> dict:
    """Steal share and busy cores between two :func:`cpu_times` readings."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
    idle = d[3] + d[4]
    return {"steal_frac": d[7] / total, "busy_cores": n_cpus * (total - idle - d[7]) / total}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    todo, pids = [root], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a process tree so far: every live
    process's own time plus that of the children it has reaped. Time the
    hypervisor steals is not in it, so it moves far less than wall time
    when the host is busy."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.

    The JVM forks the PySpark worker daemon, which forks the workers; when
    the JVM exits first they are re-parented here instead of to init, so
    :func:`stop_tree` can still find them and collect their exit status.
    """
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(root: int, grace_s: float = 30.0) -> list[int]:
    """Wait until every descendant of ``root`` (this process) has exited,
    reaping each; send SIGTERM to those still alive after ``grace_s``, then
    SIGKILL five seconds later. Returns the pids that had to be signalled."""
    deadline = time.monotonic() + grace_s
    signalled: list[int] = []
    sig = None
    while True:
        _reap()
        pids = [p for p in _tree(root) if p != root]
        if not pids:
            return signalled
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                signalled.append(pid)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


class PeakRss:
    """Peak resident memory of a process tree over a region, from the
    kernel's own high-water marks: entering resets every process's VmHWM
    (``clear_refs`` 5), leaving sums VmHWM over the tree as it is then.
    Processes that exit inside the region are not counted."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0

    def __enter__(self) -> "PeakRss":
        for pid in _tree(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                continue  # exited, or not ours
        return self

    def __exit__(self, *exc) -> None:
        kb = 0
        for pid in _tree(self.root):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
            except OSError:
                continue
        self.peak_mb = kb / 1024
