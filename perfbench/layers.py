"""Per-layer measurement from outside the engine.

Three sources, all public Spark hooks, none inside ``map_reduce_folds_spark``:

* the Spark event log (``spark.eventLog.enabled``) for jobs, stages, tasks,
  task metrics and the SQL accumulables of scans and Python workers;
* a ``StreamingQueryListener`` for micro-batches;
* timestamps the benchmark takes around each call into the program.

Jobs are matched to a query by time window, not by job group: job groups do
not reach the engine's pool threads or stream threads, and the benchmark runs
one query at a time, so a window is unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

from pyspark.sql.streaming.listener import StreamingQueryListener

# SQL accumulables, by the names Spark gives them, summed per layer metric.
# Spark creates all of these as millisecond timings or byte sizes.
ACCUMULABLES = {
    "sources.scan_s": ("scan time",),
    "pyworker.run_s": ("time to run Python workers",),
    "pyworker.start_s": ("time to start Python workers",
                         "time to initialize Python workers"),
    "pyworker.bytes_sent": ("data sent to Python workers",),
    "pyworker.bytes_returned": ("data returned from Python workers",),
}
_ACC_METRIC = {acc: metric for metric, accs in ACCUMULABLES.items()
               for acc in accs}

#: Counters summed over a stage's tasks.  ``*_s`` values are seconds.
TASK_COUNTERS = (
    "exec.tasks", "exec.failed_tasks",
    "exec.task_wait_s", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_fetch_wait_s", "exec.spill_bytes", "sources.input_bytes",
    *ACCUMULABLES,
)
#: Counters taken per query from the event log.
EXEC_COUNTERS = ("exec.jobs", "exec.stages", *TASK_COUNTERS)


class BatchListener(StreamingQueryListener):
    """Records every micro-batch progress event.  Events arrive on Spark's
    listener bus asynchronously; call :func:`drain_listener_bus` before
    reading ``batches``."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        durations = dict(p.durationMs or {})
        with self._lock:
            self.batches.append({
                "query_id": str(p.id), "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "trigger_s": durations.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": durations.get("addBatch", 0) / 1000.0,
                "input_rows": int(p.numInputRows or 0),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        """Return and forget the batches recorded so far."""
        with self._lock:
            out, self.batches = self.batches, []
        return out


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every posted event,
    including the ones forwarded to Python listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def query_phases_ms(forced_df) -> dict[str, float]:
    """Catalyst phase times of an executed frame, from
    ``QueryExecution.tracker().phases()``."""
    phases = forced_df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"plans.{phase}_ms"] = (
            float(opt.get().durationMs()) if opt.isDefined() else 0.0)
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``.  Spark 4
    rolls a log into ``eventlog_v2_*/events_<n>_*`` files; a plain file is
    read as one log.  Compression must be off (``zstandard`` is absent)."""
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    paths += [p for p in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(p)]
    events = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class ExecIndex:
    """Jobs from an event log with their stages and task totals, ready to be
    matched to time windows."""

    def __init__(self, events: list[dict]):
        self.jobs: list[dict] = []   # {id, submit_ms, end_ms, stage_ids}
        stage_submit: dict[int, int] = {}
        self.stage_end: dict[int, int] = {}
        stage_totals: dict[int, dict] = defaultdict(
            lambda: dict.fromkeys(TASK_COUNTERS, 0.0))
        task_launch: list[tuple[int, int]] = []
        job_end: dict[int, int] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs.append({"id": ev["Job ID"],
                                  "submit_ms": ev["Submission Time"],
                                  "end_ms": ev["Submission Time"],
                                  "stage_ids": list(ev.get("Stage IDs", []))})
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev.get("Completion Time", 0)
            elif kind in ("SparkListenerStageSubmitted",
                          "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit.setdefault(info["Stage ID"],
                                            info["Submission Time"])
                if info.get("Completion Time") is not None:
                    self.stage_end[info["Stage ID"]] = info["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                t = stage_totals[sid]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                t["exec.tasks"] += 1
                if info.get("Failed") or info.get("Killed"):
                    t["exec.failed_tasks"] += 1
                task_launch.append((sid, info.get("Launch Time", 0)))
                t["exec.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["exec.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                t["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["exec.shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                t["exec.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                t["exec.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                t["sources.input_bytes"] += (
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0))
                for acc in info.get("Accumulables", []):
                    metric = _ACC_METRIC.get(acc.get("Name"))
                    if metric is None:
                        continue
                    val = float(acc.get("Update") or 0)
                    if metric.endswith("_s"):
                        val /= 1e3
                    t[metric] += val
        for sid, launch in task_launch:
            if sid in stage_submit and launch:
                stage_totals[sid]["exec.task_wait_s"] += max(
                    0, launch - stage_submit[sid]) / 1e3
        for j in self.jobs:
            j["end_ms"] = job_end.get(j["id"], j["end_ms"])
        self.stage_submit = stage_submit
        self.stage_totals = stage_totals
        self.jobs.sort(key=lambda j: j["submit_ms"])

    def window(self, start_s: float, end_s: float) -> dict:
        """Counters of the jobs submitted in ``[start_s, end_s]`` (seconds
        since the epoch, the clock the event log uses)."""
        lo, hi = start_s * 1e3, end_s * 1e3
        jobs = [j for j in self.jobs if lo <= j["submit_ms"] <= hi]
        out = dict.fromkeys(EXEC_COUNTERS, 0.0)
        out["exec.jobs"] = len(jobs)
        seen = set()
        for j in jobs:
            for sid in j["stage_ids"]:
                if sid in seen or sid not in self.stage_totals:
                    continue   # skipped stages never ran a task
                seen.add(sid)
                for k, v in self.stage_totals[sid].items():
                    out[k] += v
        out["exec.stages"] = len(seen)
        out["jobs"] = jobs
        return out


class Spans:
    """In-memory span tree: each span has a name, start and end (seconds
    since the epoch), its parent's id and free-form attributes."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "start": start, "end": end,
                           "attrs": attrs})
        return len(self.spans) - 1
