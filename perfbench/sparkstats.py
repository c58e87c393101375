"""Spark-side counters read through public status and listener APIs.

Three sources, all outside the engine:

* ``SparkContext.statusTracker()`` for the jobs, stages and tasks of
  one job group (the benchmark sets one group per operation phase);
* the local event log (``spark.eventLog.*``, traced runs only) for
  per-task executor time, GC, scheduler delay, shuffle, spill and I/O;
* a ``StreamingQueryListener`` for micro-batch phase times and
  state-store figures.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections.abc import Iterable
from datetime import datetime

# --------------------------------------------------------------- status tracker


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, submitted stages, their tasks and failed tasks of a job group."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is None:  # skipped: its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


# -------------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_intervals(events: Iterable[dict]) -> list[tuple[int, float, float]]:
    """(job id, submitted, completed) in epoch seconds, for finished jobs."""
    starts, out = {}, []
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            starts[e["Job ID"]] = e["Submission Time"] / 1000.0
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in starts:
            out.append((e["Job ID"], starts[e["Job ID"]], e["Completion Time"] / 1000.0))
    return out


TASK_TOTALS = (
    "executor.cpu_s", "executor.run_s", "executor.gc_s", "executor.sched_delay_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "io.input_bytes", "io.output_bytes", "io.output_records",
)


def task_totals(events: Iterable[dict], lo: float, hi: float) -> dict[str, float]:
    """Sum task metrics over tasks launched in [lo, hi] (epoch seconds).

    Scheduler delay is a task's launch time minus its stage's
    submission time."""
    events = list(events)
    submitted = {}
    for e in events:
        if e["Event"] in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            if "Submission Time" in info:
                submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"]
    out = dict.fromkeys(TASK_TOTALS, 0.0)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info = e["Task Info"]
        launch = info["Launch Time"]
        if not lo <= launch / 1000.0 <= hi:
            continue
        m = e.get("Task Metrics") or {}
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        out["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        stage_at = submitted.get((e["Stage ID"], e["Stage Attempt ID"]))
        if stage_at is not None:
            out["executor.sched_delay_s"] += max(0, launch - stage_at) / 1e3
        out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["io.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        out["io.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        out["io.output_records"] += m.get("Output Metrics", {}).get("Records Written", 0)
    return out


# --------------------------------------------------------------------- streaming

STREAM_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}


def batch_interval(progress: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one micro-batch's trigger."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + progress.get("durationMs", {}).get("triggerExecution", 0) / 1e3


def aggregate_progress(progresses: Iterable[dict]) -> dict[str, float]:
    """Totals over micro-batch progress reports (``StreamingQueryProgress.json``).

    Phase times and state commit time are summed. State rows and memory
    are gauges, so they are averaged over batches that report state."""
    out = {"stream.batches": 0.0, "stream.input_rows": 0.0, "state.commit_ms": 0.0}
    out.update(dict.fromkeys(STREAM_PHASES, 0.0))
    rows, mem, stateful = 0.0, 0.0, 0
    for p in progresses:
        out["stream.batches"] += 1
        out["stream.input_rows"] += p.get("numInputRows", 0)
        durations = p.get("durationMs", {})
        for name, phase in STREAM_PHASES.items():
            out[name] += durations.get(phase, 0)
        ops = p.get("stateOperators") or []
        if ops:
            stateful += 1
            rows += sum(o.get("numRowsTotal", 0) for o in ops)
            mem += sum(o.get("memoryUsedBytes", 0) for o in ops)
            out["state.commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
    out["state.rows_total"] = rows / stateful if stateful else 0.0
    out["state.memory_bytes"] = mem / stateful if stateful else 0.0
    return out


def progress_listener():
    """A StreamingQueryListener that keeps each progress report as a dict.

    Built lazily so that importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            report = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(report)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def reports(self) -> list[dict]:
            with self.lock:
                return list(self.progress)

    return ProgressListener()
