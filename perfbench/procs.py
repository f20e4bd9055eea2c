"""Process-tree memory sampling and shutdown for the benchmark.

The benchmark's process tree is this Python process, the Spark JVM it
launches, and the JVM's Python worker daemons.  ``RssSampler`` sums
their resident set sizes from /proc on a background thread and keeps
the peaks; ``stop_spark`` stops the session, ends the JVM and waits
until no descendant process is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

PR_SET_CHILD_SUBREAPER = 36


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int) -> dict:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(ln.split(":", 1) for ln in f if ":" in ln)
    except OSError:
        return {}


def _rss_mb(pid: int) -> tuple[float, str]:
    """(resident MB, command name) of one process; 0 MB once it exits."""
    st = _status(pid)
    return int(st.get("VmRSS", "0 kB").split()[0]) / 1024.0, st.get("Name", "").strip()


def _alive(pid: int) -> bool:
    """Running or exiting, i.e. neither gone nor a zombie.  A process
    whose main thread has exited shows state Z while its other threads
    (the JVM's shutdown work) still run, so it counts as alive until
    one thread is left."""
    st = _status(pid)
    if not st:
        return False
    exited = st.get("State", "Z").strip()[:1] in ("Z", "X")
    return not exited or int(st.get("Threads", "1")) > 1


class RssSampler:
    """Peak RSS (MB) of the tree rooted at this process, split into
    the JVM, the Python workers and the total."""

    def __init__(self, interval: float = 0.2, rescan: float = 1.0):
        self.interval, self.rescan = interval, rescan
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self, pids) -> None:
        me = os.getpid()
        jvm = workers = total = 0.0
        for pid in (me, *pids):
            mb, name = _rss_mb(pid)
            total += mb
            if name == "java":
                jvm += mb
            elif pid != me and name.startswith("python"):
                workers += mb
        for key, val in (("total", total), ("jvm", jvm), ("workers", workers)):
            self.peak[key] = max(self.peak[key], val)

    def _run(self) -> None:
        pids, last_scan = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - last_scan >= self.rescan:
                pids = descendants(os.getpid())
                last_scan = now
            self.sample(pids)
            self._stop.wait(self.interval)

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        return dict(self.peak)


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so a
    process the JVM leaves behind (its shutdown ``rm -rf`` of the Spark
    temp dirs) is still found and waited for."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child that has already exited."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def wait_descendants(timeout: float = 120.0) -> None:
    """Reap children until this process has no live descendants; TERM,
    then KILL, whatever outlives ``timeout``.  A child that exits
    between the last reap and the scan is reaped before returning, so
    no zombie is left behind."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + timeout
        while True:
            _reap()
            alive = [p for p in descendants(os.getpid()) if _alive(p)]
            if not alive or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not alive or sig is None:
            _reap()
            return
        for p in alive:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        timeout = 5.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits on EOF of its stdin
    pipe) and wait for every descendant process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_descendants()
