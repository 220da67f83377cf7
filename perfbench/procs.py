"""Process helpers read straight from /proc: the process tree, its summed
RSS high-water mark, foreign Spark JVMs and the load average."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_spark_jvms() -> list[int]:
    """SparkSubmit JVMs that are not children of this process."""
    mine = set(descendants(os.getpid()))
    return [
        pid
        for pid in _ppids()
        if pid not in mine and "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
    ]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) every ``period`` seconds; ``peak`` is the
    high-water mark in bytes."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes([me, *descendants(me)]))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGTERM, then SIGKILL, the ones
    still alive after ``timeout``."""
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            left = descendants(os.getpid())
            if not left:
                return
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
