"""The benchmark's own arithmetic and its process sampler: percentiles,
failure accounting, span self time, core busy ratio, and /proc readings
of CPU time and resident memory."""

from __future__ import annotations

import math
import os
import statistics
import threading
from dataclasses import dataclass

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class OpRecord:
    """One attempted operation of the closed loop."""

    start: float
    end: float
    ok: bool
    traced: bool = False
    cpu_py_s: float = 0.0
    cpu_jvm_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of ``values`` (``pct`` in 0..100)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(pct / 100.0 * len(xs)) - 1)]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest of TAIL_PERCENTILES that has at least TAIL_BEYOND
    samples beyond it, as (percentile, value); None when even the
    lowest has fewer."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n - math.ceil(pct / 100.0 * n) >= TAIL_BEYOND:
            return pct, nearest_rank(values, pct)
    return None


@dataclass
class Summary:
    attempted: int
    failed: int
    window_s: float
    p50_s: float
    tail: tuple[float, float] | None

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted


def summarize(records: list[OpRecord]) -> Summary:
    """Accounting over the timed window.  A failed op stays in the
    denominator and counts as slower than every successful op; the window
    runs from the first op's start to the last op's end whatever failed."""
    if not records:
        raise ValueError("no operation was attempted")
    lat = [r.seconds if r.ok else math.inf for r in records]
    window = records[-1].end - records[0].start
    p50 = statistics.median(lat)
    return Summary(len(records), sum(not r.ok for r in records), window,
                   window if math.isinf(p50) else p50, tail_percentile(lat))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, reach = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(a, start), min(b, end)) for a, b in children
               if b > start and a < end]
    return (end - start) - union_length(clipped)


def core_busy_ratio(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Executor run time as a share of the cores' capacity over ``wall_s``."""
    return executor_run_s / (wall_s * cores)


def _proc_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_rss(pid: int) -> tuple[float, int]:
    """(user+system CPU seconds, resident bytes) of one process; zeros if
    it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / _TICK, int(f[21]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0.0, 0


@dataclass
class Reading:
    py_cpu_s: float
    jvm_cpu_s: float
    rss_bytes: int


class ProcSampler:
    """One low-rate thread sampling CPU time and RSS of the Python process
    and the JVM (with its child processes).  ``read()`` takes the same
    reading on demand, at op and window boundaries."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.5) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop,
                                        name="perfbench-sampler")

    def read(self) -> Reading:
        py_cpu, py_rss = _cpu_rss(os.getpid())
        jvm = [_cpu_rss(p) for p in _proc_tree(self.jvm_pid)]
        r = Reading(py_cpu, sum(c for c, _ in jvm),
                    py_rss + sum(m for _, m in jvm))
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, r.rss_bytes)
        return r

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss_bytes = 0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.read()

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
