"""Process-tree helpers: resident memory of the Spark JVM and its Python
workers, and a teardown that waits for every one of them to exit.

Everything reads ``/proc``; no third-party package is needed.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return ""


def jvm_pid() -> int:
    """pid of the Spark JVM that pyspark launched for this process."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class RssSampler:
    """Samples, on a background thread while enabled, the summed RSS of the
    Spark JVM and its pyspark daemon and Python workers (the daemon's
    forks); ``peak_bytes`` is the highest sum seen. Other children of the
    JVM are left out: it forks short-lived helpers for local file-system
    calls, and such a fork briefly shows the parent's whole resident set."""

    def __init__(self, jvm: int, interval_s: float = 0.1):
        self.jvm = jvm
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.interval_s) and not self._stop.is_set():
                pids = [self.jvm] + [p for p in descendants(self.jvm) if "pyspark.daemon" in _cmdline(p)]
                self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
                time.sleep(self.interval_s)

    def enable(self) -> None:
        self._on.set()

    def disable(self) -> None:
        self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    descendant process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_for_descendants(timeout_s)


def wait_for_descendants(timeout_s: float) -> None:
    me = os.getpid()
    deadline = time.time() + timeout_s
    killed = False
    while left := descendants(me):
        for p in left:
            try:  # reap direct children so they do not linger as zombies
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes did not exit: {left}")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.time() + 5
        time.sleep(0.1)
