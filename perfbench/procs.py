"""The benchmark's process tree: peak-RSS sampling and shutdown.

The tree is this process plus every descendant -- the gateway JVM that
PySpark launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                kids = Path(f"/proc/{p}/task/{t}/children").read_text().split()
            except OSError:
                continue
            for k in kids:
                out.append(int(k))
                todo.append(int(k))
    return out


def rss_bytes(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of one process, all its threads."""
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_seconds() -> float:
    """CPU time of the whole process tree so far."""
    me = os.getpid()
    return sum(cpu_seconds(p) for p in [me, *descendants(me)])


class PeakRss:
    """Samples the summed RSS of the process tree on a background thread."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 2**20


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    descendant to exit (killing what outlives ``timeout_s``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants(timeout_s)


def become_subreaper() -> None:
    """Make orphaned descendants (workers whose JVM parent exited)
    re-parent to this process, so they stay in the tree and can be reaped."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while True:
        while True:  # collect exited children (orphans re-parented here too)
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def start_watchdog(limit_s: float) -> None:
    """Kill the process tree and exit non-zero if the run overstays."""

    def _fire() -> None:
        for k in descendants(os.getpid()):
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(limit_s, _fire)
    t.daemon = True
    t.start()
