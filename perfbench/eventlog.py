"""Per-layer numbers from a Spark event log.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
uncompressed, non-rolling output, and tags every op's jobs with
``setJobGroup(<op id>)``.  ``summarize`` folds the log into one ``GroupStats``
per job group: job intervals, stage and task counts, executor time, shuffle
and scan volume, and the rows that join operators emitted (from the SQL plan
graph's "number of output rows" accumulators).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
MB = 1e6


@dataclass
class GroupStats:
    """Everything the log says about the jobs of one job group."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (start, end) epoch seconds
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    task_retries: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    join_rows_out: int = 0

    def add(self, other: GroupStats) -> None:
        for name, value in vars(other).items():
            setattr(self, name, getattr(self, name) + value)


def read_events(path: str) -> Iterator[dict]:
    """Events of one log file, or of every file under a log directory (a
    rolling log is a directory of ``events_*`` parts, in name order)."""
    if os.path.isdir(path):
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _join_accumulators(plan: dict) -> Iterator[int]:
    name = plan.get("nodeName", "")
    if "Join" in name or name == "CartesianProduct":
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                yield metric["accumulatorId"]
    for child in plan.get("children", []):
        yield from _join_accumulators(child)


def summarize(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Fold events into stats per job group (jobs without a group are kept
    under the empty string)."""
    groups: dict[str, GroupStats] = {}
    job_start: dict[int, tuple[str, float, list[int]]] = {}
    stage_group: dict[int, str] = {}
    submitted: set[int] = set()
    exec_group: dict[int, str] = {}
    join_accs: set[int] = set()

    def stats(group: str) -> GroupStats:
        return groups.setdefault(group, GroupStats())

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
            job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000, ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            group, start, stage_ids = job_start.pop(ev["Job ID"])
            s = stats(group)
            s.jobs.append((start, ev["Completion Time"] / 1000))
            s.stages_skipped += sum(1 for sid in stage_ids if sid not in submitted)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted.add(info["Stage ID"])
            stage_group[info["Stage ID"]] = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage Attempt ID"] == 0:
                stats(stage_group.get(info["Stage ID"], "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats(stage_group.get(ev["Stage ID"], ""))
            s.tasks += 1
            task = ev.get("Task Info", {})
            if task.get("Attempt", 0) > 0:
                s.task_retries += 1
            m = ev.get("Task Metrics") or {}
            s.executor_run_s += m.get("Executor Run Time", 0) / 1000
            s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000
            s.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            w = m.get("Shuffle Write Metrics", {})
            s.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / MB
            r = m.get("Shuffle Read Metrics", {})
            s.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / MB
            i = m.get("Input Metrics", {})
            s.input_mb += i.get("Bytes Read", 0) / MB
            s.input_rows += i.get("Records Read", 0)
            for acc in task.get("Accumulables", []):
                if acc.get("ID") in join_accs:
                    s.join_rows_out += int(acc.get("Update", 0))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "jobGroupId" in ev:
                exec_group[ev["executionId"]] = ev["jobGroupId"] or ""
            join_accs.update(_join_accumulators(ev.get("sparkPlanInfo", {})))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in join_accs:
                    stats(exec_group.get(ev["executionId"], "")).join_rows_out += int(value)
    return groups


def covered_seconds(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
