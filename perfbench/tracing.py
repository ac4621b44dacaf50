"""Benchmark-side instrumentation: spans, a streaming-progress listener,
Spark job/task counts by job group, and peak resident memory.

Nothing here reaches into the engine: spans wrap calls to its public
functions, the listener is a plain ``StreamingQueryListener``, and job
counts come from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans (name, start, end, parent, run id)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class StreamTap(StreamingQueryListener):
    """Records every query start (wall time, run id) and every progress
    event's trigger and addBatch durations."""

    def __init__(self):
        self.started: list[tuple[float, str]] = []
        self.progress: list[dict] = []

    def reset(self) -> None:
        self.started, self.progress = [], []

    def onQueryStarted(self, event):
        self.started.append((time.perf_counter(), str(event.runId)))

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        self.progress.append({"rows": p.numInputRows,
                              "trigger_ms": d.get("triggerExecution", 0),
                              "add_batch_ms": d.get("addBatch", 0)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def drain_listener_bus(spark) -> None:
    """Wait until every queued listener event has been delivered, so no
    callback arrives after the listener is removed or Spark stops."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def jobs_and_tasks(spark, groups: list[str]) -> tuple[int, int]:
    """Jobs and tasks Spark ran under the given job groups."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
    return jobs, tasks


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of one process, from /proc VmHWM."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_snapshot() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others since ``since``:
    on a shared host it slows every timing of the run alike."""
    steal, total = steal_snapshot()
    return (steal - since[0]) / max(total - since[1], 1)


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident size."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
