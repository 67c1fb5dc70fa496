"""The benchmark's process tree, read from /proc: peak resident memory
of the driver, the JVM it launches and the JVM's Python workers, and
the teardown that leaves none of them running."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process's calling thread and
    of every process it started, the JVM and its Python workers, with
    the workers that have exited (counted in their parent once reaped).
    Time the hypervisor gives to other guests (steal) is in neither."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while reading
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return time.thread_time() + total / tick


def _pss(pid: int) -> int:
    """Proportional set size: resident bytes, with each page shared by
    n processes (a forked Python worker and its daemon) counted 1/n."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited while sampling
        pass
    return 0


class PeakRss:
    """Samples the resident memory (PSS) of this process and all its
    descendants every ``interval`` seconds on a daemon thread;
    ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _pss(me) + sum(_pss(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait until
    every process this one started has exited (killing stragglers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers exit once the JVM holding their sockets is gone
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
