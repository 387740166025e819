"""Process-tree memory sampling and shutdown, read from /proc (no psutil).

The tree is this interpreter, the JVM that PySpark launches, and the Python
worker daemon and workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int, ppid_map: dict[int, int] | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in (ppid_map or _ppid_map()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory in MiB of the driver (root), the JVM it launched and
    the Python worker daemon and workers the JVM forks, shared pages
    counted once: the JVM's RSS (cheap to read), and for the Python
    processes, which fork from one another, their proportional set size.

    Other processes the JVM spawns (chmod, rm, ...) are left out: until
    they exec they run in the JVM's own address space and would count it
    twice."""
    root = os.getpid() if root is None else root
    ppid = _ppid_map()
    kb = _field_kb(f"/proc/{root}/smaps_rollup", "Pss:")
    for jvm in (p for p, q in ppid.items() if q == root):
        if _cmdline(jvm).split(b"\0")[0].endswith(b"java"):
            kb += _field_kb(f"/proc/{jvm}/status", "VmRSS:")
            for w in (p for p, q in ppid.items() if q == jvm):
                if b"pyspark.daemon" in _cmdline(w) or b"pyspark.worker" in _cmdline(w):
                    for pid in [w, *descendants(w, ppid)]:
                        kb += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the summed RSS of the process tree on a background thread
    and keeps the maximum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] != b"Z"


def shutdown_spark(timeout_s: float = 30.0) -> None:
    """Stop the active SparkContext and the JVM behind it, then wait until
    every process started under this interpreter (the JVM, the Python
    worker daemon and its workers) has ended, killing stragglers."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while True:
        started = [p for p in set(started + descendants(os.getpid()))
                   if _alive(p)]
        if not started or time.monotonic() > deadline + 10:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in started:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
