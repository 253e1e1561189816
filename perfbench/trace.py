"""Spans and Spark counters recorded from outside the program.

Each operation runs under its own Spark job group (``setJobGroup`` in
the thread that issues it; PySpark pins Python threads to JVM threads,
so concurrent requests keep distinct groups). After the measurement
the tracer reads every group's jobs and stages from Spark's status
store, which works with the UI disabled, and turns them into child
spans and per-operation counters. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time

STAGE_COUNTERS = (
    "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes",
)
SPARK_COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", *STAGE_COUNTERS,
    "driver_gap_ms",
)
# the subset reported per op class (strategy or curation step)
CLASS_COUNTERS = ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes", "driver_gap_ms")


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Span recorder plus status-store reader for one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self.local = threading.local()  # .rid of the op this thread runs

    def new_request_id(self, prefix: str) -> str:
        return f"{prefix}-{next(self._ids)}"

    def span(self, rid: str, name: str, parent: str | None,
             start: float, end: float, **attrs) -> str:
        """Record one span; ``start``/``end`` are epoch seconds."""
        sid = f"{rid}/{name}"
        with self._lock:
            self.spans.append({
                "id": sid, "parent": parent, "request": rid, "name": name,
                "start": start, "end": end, **attrs,
            })
        return sid

    def begin(self, rid: str, description: str) -> None:
        """Route every Spark job this thread submits to group ``rid``."""
        self.local.rid = rid
        self.sc.setJobGroup(rid, description)

    def end(self) -> None:
        self.local.rid = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_stats(self, rid: str, parent: str, lo: float, hi: float) -> dict:
        """Counters of every job in group ``rid``; ``lo``/``hi`` bound
        the operation in epoch seconds. Adds one span per job."""
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        runs = []
        for jid in self._settled_jobs(rid):
            jd = store.job(jid)
            t0 = jd.submissionTime().get().getTime() / 1000.0
            t1 = jd.completionTime().get().getTime() / 1000.0
            runs.append((t0, t1))
            self.span(rid, f"spark.job.{jid}", parent, t0, t1)
            out["jobs"] += 1
            sids = jd.stageIds()
            for i in range(sids.size()):
                out["stages"] += 1
                sd = store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["driver_gap_ms"] = ((hi - lo) - union_ms(runs, lo, hi)) * 1000.0
        return out

    def _settled_jobs(self, rid: str, timeout_s: float = 10.0) -> list[int]:
        """Job ids of group ``rid`` once the status store has recorded
        their completion (the listener bus updates it asynchronously)."""
        store = self.sc._jsc.sc().statusStore()
        deadline = time.monotonic() + timeout_s
        while True:
            jids = sorted(self.sc.statusTracker().getJobIdsForGroup(rid))
            if all(store.job(j).completionTime().isDefined() for j in jids):
                return jids
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of group {rid} never completed")
            time.sleep(0.05)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
