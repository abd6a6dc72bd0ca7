"""Host shape and process-tree probes read from /proc.

The benchmark's driver process is the root of a tree: the Spark JVM is
its child and the PySpark daemon plus its forked Python workers are the
JVM's descendants. CPU is summed over that whole tree (including
children already reaped, through cutime/cstime), so it counts the JVM's
JIT and GC threads and the Python kernels alike, and it does not count
time the host stole from us.

No process outlives the run: `adopt_orphans` makes the driver process
the subreaper of its tree, so a descendant whose parent exits first
(the PySpark daemon once the JVM is gone) is re-parented to it rather
than to init, and `reap_tree` then waits until the driver has no child
left at all.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks), None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _tree(root: int) -> dict[int, int]:
    """pid → cpu ticks for `root` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_tree(grace_s: float = 30.0) -> None:
    """Wait until this process has no child: reap those that ended,
    send SIGTERM to every live descendant after `grace_s` seconds and
    SIGKILL after twice that. With `adopt_orphans` in force, no child
    means no descendant."""
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in _tree(os.getpid()):
                if pid != os.getpid():
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        time.sleep(0.05)


def tree_cpu_s(root: int | None = None) -> float:
    return sum(_tree(root or os.getpid()).values()) / _TICK


def python_worker_hwm_mb(root: int | None = None) -> float:
    """Highest VmHWM among the PySpark daemon and its forked workers."""
    peak = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


class WorkerPeak:
    """Samples `python_worker_hwm_mb` from a background thread, so a
    worker that exits between two jobs still leaves its peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, python_worker_hwm_mb())

    def __enter__(self) -> "WorkerPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, python_worker_hwm_mb())
