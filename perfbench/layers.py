"""Per-layer counters for the traced run, read from outside the engine.

Job, stage and task counts come from Spark's public ``StatusTracker`` by
job group (``<qid>:build`` and ``<qid>:exec``). Task time, CPU, GC,
scheduler delay, spill, shuffle and I/O bytes come from folding Spark's
event log, whose job-start events carry the same job group; so does the
end of planning, from the SQL execution-start events.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

MB = 1024.0 * 1024.0
TASK_FIELDS = (
    "task_s", "cpu_s", "gc_s", "sched_delay_s", "spill_mb",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb", "output_mb",
    "failed_tasks",
)
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def status_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and completed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


def settle(sc, timeout_s: float = 10.0) -> None:
    """Wait until the status store has seen every job end: the listener
    bus is asynchronous, so an action can return before its events land."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while st.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead_ms = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + (info.get("Finish Time", 0) - info["Getting Result Time"]
           if info.get("Getting Result Time") else 0)
    )
    return {
        "task_s": run_ms / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_delay_s": max(0, duration_ms - overhead_ms) / 1e3,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
        "failed_tasks": 1.0 if info.get("Failed") else 0.0,
    }


def _events(log_dir: str):
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    yield json.loads(line)


def fold_event_log(log_dir: str) -> tuple[dict, dict]:
    """Fold the event logs under ``log_dir`` (any layout: single files or
    rolling directories, read in any order). Returns

    - the summed task metrics of every job group. Stages reached from
      several jobs are charged to the group of the lowest-numbered job
      that lists them;
    - the wall-clock milliseconds at which each job group's top-level
      SQL executions started, sorted."""
    stage_group: dict[int, tuple[int, str]] = {}
    by_stage: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    sql_starts: dict[str, list[int]] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job = ev.get("Job ID", 0)
            for sid in ev.get("Stage IDs", []):
                if group and (sid not in stage_group or job < stage_group[sid][0]):
                    stage_group[sid] = (job, group)
        elif kind == "SparkListenerTaskEnd":
            acc = by_stage[ev.get("Stage ID")]
            for k, v in _task_metrics(ev).items():
                acc[k] += v
        elif kind == SQL_START and ev.get("jobGroupId"):
            if ev.get("rootExecutionId", ev["executionId"]) == ev["executionId"]:
                sql_starts[ev["jobGroupId"]].append(ev["time"])
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for sid, acc in by_stage.items():
        if sid in stage_group:
            dst = out[stage_group[sid][1]]
            for k, v in acc.items():
                dst[k] += v
    return dict(out), {g: sorted(ts) for g, ts in sql_starts.items()}


def plan_seconds(write_ms: tuple[float, float], starts) -> float:
    """Seconds from the noop write's call to its SQL execution start: the
    first start inside the call's window ``(w0, w1)``, in wall-clock
    milliseconds. Spark posts that event after it has analysed,
    optimised and planned the write's own query. 0 when the window holds
    no start (a query the write runs without a SQL execution)."""
    w0, w1 = write_ms
    inside = [t for t in starts if w0 - 1 <= t <= w1]
    return max(0.0, min(inside) - w0) / 1e3 if inside else 0.0
