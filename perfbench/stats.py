"""Summary statistics and open-loop accounting for the benchmark."""

from __future__ import annotations

import math
import statistics
import threading
import time


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def tail(values, beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Nearest-rank: with n sorted samples, the value at 0-based index i
    has n-1-i samples beyond it, so the highest admissible index is
    n-1-beyond and the percentile is 100*(i+1)/n.  Returns
    ``(percentile, value, n)``, or None when the sample is too small.
    """
    xs = sorted(values)
    n = len(xs)
    i = n - 1 - beyond
    if i < 0:
        return None
    return 100.0 * (i + 1) / n, xs[i], n


class OpenLoop:
    """A fixed schedule: event k is due at ``t0 + k * period`` whether
    or not earlier events have finished.  Latency is measured from the
    due time, so a stall shows on every event queued behind it, and
    ``late_max`` reports how far the issuer itself fell behind."""

    def __init__(self, t0: float, period: float, clock=time.time, sleep=time.sleep):
        self.t0 = t0
        self.period = period
        self._clock = clock
        self._sleep = sleep
        self._lock = threading.Lock()
        self.issued: list[tuple[float, float]] = []  # (due, issued_at)

    def due(self, k: int) -> float:
        return self.t0 + k * self.period

    def count_before(self, end: float) -> int:
        """Events due strictly before ``end``."""
        return max(0, math.ceil((end - self.t0) / self.period))

    def wait(self, k: int) -> float:
        """Sleep until event k is due; return its due time."""
        due = self.due(k)
        delay = due - self._clock()
        if delay > 0:
            self._sleep(delay)
        return due

    def mark(self, due: float, at: float | None = None) -> None:
        with self._lock:
            self.issued.append((due, self._clock() if at is None else at))

    def late_max(self) -> float:
        with self._lock:
            return max((max(0.0, at - due) for due, at in self.issued), default=0.0)


def proc_peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_start_time() -> float:
    """Wall-clock start of this process: now minus its age, both from
    /proc in 10 ms ticks."""
    import os

    now = time.time()
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return now - (uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK"))
