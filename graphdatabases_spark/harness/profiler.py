"""Resource profiler: CPU% / RSS sampling of engine processes.

Re-expresses the reference's ``Profiler`` (``benchmark.py:28-100``):
snapshot the backend PIDs at construction (``benchmark.py:38-40``), then
sample CPU percent and resident memory on a daemon thread. The reference
finds backend processes by scanning process names (``databases.py:152-154``
— ``java.exe``/``arangod.exe``); here the "backend" is the local Spark
JVM, found the same way (a ``/proc`` cmdline scan for the JVM child),
plus the driver Python process itself.

psutil is not a dependency: on Linux the samples come straight from
``/proc/<pid>/stat`` (utime+stime ticks) and ``/proc/<pid>/status``
(VmRSS). On other platforms the profiler degrades to wall-clock-only
samples (cpu/mem reported as 0) rather than failing the bench.

On a real cluster this class profiles only the driver; executor-side
CPU/memory comes from the Spark metrics system (status tracker / REST
``/executors``) — see ``executor_metrics``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _proc_cpu_ticks(pid: int) -> int | None:
    """Cumulative utime+stime of a pid in clock ticks, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read().decode("ascii", "replace")
        # Fields after the parenthesized comm (which may contain spaces).
        rest = data.rsplit(")", 1)[1].split()
        return int(rest[11]) + int(rest[12])  # utime, stime
    except (OSError, IndexError, ValueError):
        return None


def _proc_rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            rss_pages = int(f.read().split()[1])
        return rss_pages * _PAGE / (1024 * 1024)
    except (OSError, IndexError, ValueError):
        return None


def find_engine_pids(name_fragments: tuple[str, ...] = ("java",)) -> list[int]:
    """Scan /proc for engine processes by cmdline fragment — the Spark
    analog of the reference's process-name scan (``databases.py:152-154``).
    Always includes the current (driver) process."""
    pids = [os.getpid()]
    try:
        entries = os.listdir("/proc")
    except OSError:
        return pids
    for entry in entries:
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if any(frag in cmd for frag in name_fragments):
            pids.append(int(entry))
    return sorted(set(pids))


class Profiler:
    """Daemon-thread sampler producing ``(t, cpu_pct, mem_mb)`` rows.

    CPU% is the summed tick delta across PIDs over the sample interval
    (one thread, delta-based — avoids the reference's quirk of spawning
    a thread per PID per sample with a 0.9 s blocking interval inside a
    0.1 s loop, SURVEY §3.4).
    """

    def __init__(self, pids: list[int] | None = None, interval: float = 0.1):
        self.pids = pids if pids is not None else find_engine_pids()
        self.interval = interval
        self.samples: list[tuple[float, float, float]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "Profiler":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def start(self) -> None:
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)

    def _snapshot(self) -> tuple[int, float]:
        ticks = 0
        mem = 0.0
        for pid in self.pids:
            t = _proc_cpu_ticks(pid)
            m = _proc_rss_mb(pid)
            if t is not None:
                ticks += t
            if m is not None:
                mem += m
        return ticks, mem

    def _run(self) -> None:
        prev_ticks, _ = self._snapshot()
        prev_t = time.perf_counter()
        stopped = False
        while not stopped:
            # The last sample covers the tail up to stop(): a busy caller
            # holding the GIL can delay each wake-up well past the
            # interval, and the tail would otherwise go unsampled.
            stopped = self._stop.wait(self.interval)
            ticks, mem = self._snapshot()
            now = time.perf_counter()
            dt = max(now - prev_t, 1e-9)
            cpu_pct = 100.0 * (ticks - prev_ticks) / _CLK_TCK / dt
            self.samples.append((now - self._t0, cpu_pct, mem))
            prev_ticks, prev_t = ticks, now

    # Means over the run — reference ``benchmark.py:92-96`` semantics.
    def mean_cpu(self) -> float:
        return sum(s[1] for s in self.samples) / len(self.samples) if self.samples else 0.0

    def mean_mem(self) -> float:
        return sum(s[2] for s in self.samples) / len(self.samples) if self.samples else 0.0


def executor_metrics(spark) -> list[dict]:
    """Executor-side memory/task metrics from the Spark status tracker —
    the cluster-scale complement to the /proc sampler (driver-only).
    Works in local mode too (single 'driver' executor)."""
    # The Python StatusTracker lacks executor info; go through the JVM
    # SparkStatusTracker (public Spark API).
    jtracker = spark.sparkContext._jsc.sc().statusTracker()
    return [
        {
            "host": i.host(),
            "port": i.port(),
            "cache_memory": i.cacheSize(),
            "num_running_tasks": i.numRunningTasks(),
        }
        for i in jtracker.getExecutorInfos()
    ]
