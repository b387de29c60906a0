"""Traced-mode bookkeeping: Spark job groups around each timed call, task
counts from the status tracker, and per-group task metrics from Spark's own
event log (enabled through the spark-defaults.conf the benchmark writes).
"""

from __future__ import annotations

import glob
import json
import os
from contextlib import contextmanager

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class JobGroups:
    """Runs each traced call under its own job group ``pb:<pass>:<call>``
    and counts the jobs and tasks it ran from the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.stages_seen: set[int] = set()
        self.tasks: dict[str, int] = {}
        self.jobs: dict[str, int] = {}

    @contextmanager
    def call(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._count(group)

    def _count(self, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in sorted(jobs):
            info = tracker.getJobInfo(jid)
            for sid in sorted(info.stageIds) if info else []:
                if sid in self.stages_seen:  # reused (skipped) stage of an earlier job
                    continue
                self.stages_seen.add(sid)
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
        self.jobs[group] = len(jobs)
        self.tasks[group] = tasks


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task count and summed task metrics, from the one
    application log in ``log_dir``. A stage belongs to the group of the
    first job that lists it."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = totals.setdefault(
                    stage_group.get(ev["Stage ID"], ""),
                    dict.fromkeys(("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"), 0.0),
                )
                t["tasks"] += 1
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return totals
