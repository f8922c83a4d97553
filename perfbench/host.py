"""Host readings from /proc: memory size, steal time, a spin probe, and
the resident memory of the Spark process tree.

Steal and the spin probe are context only: they show a noisy window
and are never used to normalize a metric.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def spin_mops(iters: int = 3_000_000) -> float:
    """Single-thread interpreter throughput, in million loop iterations/s."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return iters / (time.perf_counter() - t0) / 1e6


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss bytes) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listdir and open
        table[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE)
    return table


def tree_rss(root: int) -> tuple[int, int]:
    """(RSS bytes summed, process count) over root's descendants (not
    root itself): the Spark driver JVM and the Python workers it forks."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, n, stack = 0, 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += table[pid][1]
        n += 1
        stack.extend(children.get(pid, []))
    return total, n


class RssSampler:
    """Samples tree_rss(os.getpid()) every `period` seconds while
    active; `peak_mb` is the largest sample seen, `peak_procs` the
    number of processes in it."""

    def __init__(self, period: float = 0.05) -> None:
        self.period = period
        self.peak = 0
        self.peak_procs = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(self.period) and not self._stop.is_set():
                rss, n = tree_rss(root)
                if rss > self.peak:
                    self.peak, self.peak_procs = rss, n
                time.sleep(self.period)

    def __enter__(self) -> "RssSampler":
        self._active.set()
        return self

    def __exit__(self, *exc) -> None:
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
