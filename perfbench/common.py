"""Machine fit, run stamp, statistics and process probes for the benchmark.

Nothing here gates a run: the stamp is recorded next to the metrics for
diagnosis only.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def heap_mb() -> int:
    """Driver heap that fits the box: an eighth of RAM, 1-4 GiB."""
    return max(1024, min(4096, mem_total_mb() // 8))


def derive_seed(seed: int, tag: str) -> int:
    """Independent, reproducible sub-seed per generated input."""
    digest = hashlib.sha256("{0}:{1}".format(seed, tag).encode()).digest()
    return int.from_bytes(digest[:4], "big") & 0x7FFFFFFF


def cpu_times():
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    total = sum(fields[:8])
    return fields[7] if len(fields) > 7 else 0, total


def stamp(root: str, heap: int, cores: int, steal0, steal1) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    d_steal = steal1[0] - steal0[0]
    d_total = steal1[1] - steal0[1]
    return {
        "nproc": nproc(),
        "master": "local[{0}]".format(cores),
        "load_generators": 1,
        "loadavg_start": os.getloadavg()[0],
        "steal_frac": (d_steal / d_total) if d_total > 0 else 0.0,
        "driver_heap_mb": heap,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """Highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``; with fewer than eleven samples no
    percentile qualifies and the maximum is returned as p100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return xs[-1], 100.0, n
    idx = n - 11
    return xs[idx], 100.0 * (idx + 1) / n, n


def _rss_bytes(pid) -> int:
    try:
        with open("/proc/{0}/statm".format(pid)) as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def proc_cpu_s(pid) -> float:
    """utime + stime of a process, in seconds."""
    with open("/proc/{0}/stat".format(pid)) as fh:
        raw = fh.read()
    fields = raw[raw.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


class RssSampler(object):
    """Peak of (driver JVM RSS + this Python process RSS), sampled."""

    def __init__(self, pids, interval=0.05):
        self.pids = list(pids)
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


class Clock(object):
    """Wall-clock stopwatch for one timed region."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False
