"""Per-call accounting from outside the library.

``Tracer.span(name)`` wraps one call into a layer's public function. When
tracing is on it gives the call its own Spark job group, and on exit it
drains the listener bus and reads that group's jobs and stages from the
status store: job, stage and task counts, the summed ``executorRunTime``,
shuffle-write bytes, failed tasks, and the driver gap (wall time during
which no job of the group was running). Stages are counted when their
last attempt was submitted inside the span and was not skipped, so a
stage reused from an earlier call is not charged twice.

Shuffle-write bytes have a known blind spot: shuffles executed while a
nested broadcast build side materializes (a broadcast exchange whose
subtree itself holds a broadcast join) do not reach the stage metrics
read here, so those entries read low.

Spans (name, start, end, parent, run id, round, counters) stay in memory
and are written out once, when the run ends.

``proc_cpu_s`` / ``proc_peak_rss_mb`` read ``/proc`` for the driver and
the Spark JVM the way ``harness/profiler.py`` does.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pids) -> float:
    """utime + stime of ``pids`` in seconds."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat", "rb") as f:
            rest = f.read().decode("ascii", "replace").rsplit(")", 1)[1].split()
        ticks += int(rest[11]) + int(rest[12])
    return ticks / _CLK_TCK


def proc_peak_rss_mb(pids) -> float:
    """Summed VmHWM (peak resident set) of ``pids`` in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _drain(jsc) -> None:
    """The status store is fed asynchronously; empty the bus first."""
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(0.3)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_counters(sc, group: str, t0: float, t1: float) -> dict:
    """Jobs, stages, tasks, run time, shuffle and driver gap of a group."""
    jsc = sc._jsc.sc()
    _drain(jsc)
    store = jsc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
           "task_busy_s": 0.0, "shuffle_write_mb": 0.0}
    intervals, seen = [], set()
    for jid in jobs:
        jd = store.job(jid)
        start, end = _ms(jd.submissionTime()), _ms(jd.completionTime())
        if start is not None:
            intervals.append((max(start, t0), min(end or t1, t1)))
        sids = jd.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # an old parent stage the store has evicted
                continue
            sub = _ms(sd.submissionTime())
            if sd.status().toString() == "SKIPPED" or sub is None or sub < t0 - 0.001:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_busy_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    out["driver_gap_s"] = max(0.0, (t1 - t0) - busy)
    return out


class Tracer:
    """Spans of one run. Every call span's parent is its round (``round``
    is -1 during set-up); spans do not nest."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.round = -1
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one call; with tracing on, also count its Spark work."""
        rec = {"name": name, "run_id": self.run_id, "round": self.round,
               "parent": f"round-{self.round}"}
        group = f"{self.run_id}:{len(self.spans)}"
        self.spans.append(rec)
        if self.enabled:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled:
                self.sc.setJobGroup(f"{self.run_id}:idle", "idle")
                rec.update(group_counters(self.sc, group, rec["start"], rec["end"]))
                rec["trace_s"] = time.perf_counter() - t0 - rec["wall_s"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
