"""Process-tree CPU and memory accounting plus host-noise receipts.

The engine runs in three kinds of process: this Python driver, the JVM
it launches, and the Python workers the JVM forks. CPU time and RSS are
summed over the whole tree under this process, read from /proc.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree (Linux
    prctl PR_SET_CHILD_SUBREAPER), so a descendant whose parent exits
    (a Spark Python daemon after its JVM, say) is re-parented here
    rather than to init, and `stop_descendants` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process still running under this one and wait until
    each has ended: SIGTERM, then SIGKILL after `grace_s`."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        live = tree_pids()[1:]
        if not live:
            return
        if sig == signal.SIGTERM and time.monotonic() >= deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the tree's RSS on a background thread; `peak_mb` is the
    largest sample between `start()` and `stop()`."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


class NoiseReceipt:
    """Hypervisor-steal share and load average over one run, so an
    outlier can be explained from the run's own output."""

    def __init__(self):
        self.steal0, self.total0 = cpu_ticks()

    def finish(self) -> dict:
        steal1, total1 = cpu_ticks()
        dt = max(total1 - self.total0, 1)
        load1, load5, _ = os.getloadavg()
        return {"steal_share": (steal1 - self.steal0) / dt,
                "loadavg_1m": load1, "loadavg_5m": load5,
                "cpus": len(os.sched_getaffinity(0))}
