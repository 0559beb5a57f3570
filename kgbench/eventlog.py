"""Reader for Spark's local, uncompressed event log.

The log is one JSON object per line (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``).  Jobs carry the submitting thread's
``spark.jobGroup.id`` in their properties; stages and tasks inherit it
through the stage ids.  This module sums, per job group:

- jobs, stages and tasks;
- executor run, CPU and GC time;
- shuffle bytes written and bytes spilled to disk;
- the Python-boundary SQL metrics ``time to run Python workers`` (ms)
  and ``data sent to Python workers`` (bytes), read from each task's
  accumulator updates.

Only the standard library is used.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PY_RUN_MS = "time to run Python workers"
PY_SENT_BYTES = "data sent to Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float | None = None


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    python_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    groups: dict[str | None, GroupStats]

    def jobs_between(self, lo: float, hi: float) -> list[Job]:
        """Jobs submitted inside ``[lo, hi]``."""
        return [j for j in self.jobs if lo <= j.start <= hi]


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def read_event_log(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = _group_of(e.get("Properties"))
            jobs[e["Job ID"]] = Job(e["Job ID"], g, e["Submission Time"] / 1000)
            groups[g].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            job = jobs[e["Job ID"]]
            job.end = e["Completion Time"] / 1000
            groups[job.group].intervals.append((job.start, job.end))
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = _group_of(e.get("Properties")) or stage_group.get(sid)
            stage_group[sid] = g
            groups[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = groups[stage_group.get(e["Stage ID"])]
            s.tasks += 1
            m = e.get("Task Metrics") or {}
            s.task_run_s += m.get("Executor Run Time", 0) / 1000
            s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000
            s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == PY_RUN_MS:
                    s.python_s += int(acc["Update"]) / 1000
                elif acc.get("Name") == PY_SENT_BYTES:
                    s.python_bytes += int(acc["Update"])
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), dict(groups))


def read_event_log_file(path: str) -> EventLog:
    with open(path) as f:
        return read_event_log(f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
