"""Fold a Spark event log into per-job and per-stage task numbers.

Only the listener events the per-layer table needs are read: job start
(stage ids and the job group the tracer set), stage completion (task count
and the SQL operator scopes of its RDDs), and task end (run time, shuffle
bytes, spill).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Stage:
    id: int
    job: int | None = None
    scopes: set[str] = field(default_factory=set)
    task_s: list[float] = field(default_factory=list)
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def stages_of_jobs(self, jobs: set[int]) -> list[Stage]:
        return [s for s in self.stages.values() if s.job in jobs and s.task_s]


def _scope_name(raw: str | None) -> str | None:
    if not raw:
        return None
    try:
        return json.loads(raw).get("name")
    except ValueError:
        return None


def read_event_logs(log_dir: str) -> EventLog:
    """Parse every uncompressed event log file under ``log_dir`` (single
    files, or the rolling layout's ``events_*`` parts)."""
    log = EventLog()
    for d, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    _fold(log, json.loads(line))
    return log


def _stage(log: EventLog, sid: int) -> Stage:
    if sid not in log.stages:
        log.stages[sid] = Stage(sid)
    return log.stages[sid]


def _fold(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        job = ev["Job ID"]
        log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        for sid in ev.get("Stage IDs", []):
            st = _stage(log, sid)
            if st.job is None:  # a stage reused by a later job stays with its first
                st.job = job
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = _stage(log, info["Stage ID"])
        for rdd in info.get("RDD Info", []):
            scope = _scope_name(rdd.get("Scope"))
            if scope:
                st.scopes.add(scope)
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        st = _stage(log, ev["Stage ID"])
        st.task_s.append(m.get("Executor Run Time", 0) / 1000.0)
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
