"""Process hygiene from /proc: other Spark JVMs, process-tree RSS."""

from __future__ import annotations

import os
import threading
import time

_SPARK_MARK = b"org.apache.spark.deploy.SparkSubmit"


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(d)] = int(stat[stat.rfind(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    ``cpu_times()`` readings — the usual cause of a slow run here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def foreign_spark_jvms() -> list[int]:
    """Spark driver JVMs on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if _SPARK_MARK in f.read():
                    out.append(int(d))
        except OSError:
            continue
    return out


def wait_for_quiet_host(timeout_s: float = 90.0) -> None:
    """A killed run leaves its JVM busy for about a minute; wait for it,
    then refuse to start rather than measure beside it."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = foreign_spark_jvms()
        if not pids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"another Spark JVM is alive: pids {pids}")
        time.sleep(2.0)


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python workers) every ``period_s``; keeps the peak."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in descendants(os.getpid()))
        self.samples_kb.append(kb)
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def median_mb(self) -> float:
        s = sorted(self.samples_kb)
        return s[len(s) // 2] / 1024.0 if s else 0.0
