"""Reader for Spark's JSON event log, grouped by job description.

The traced run sets a job description (``SparkContext.setJobDescription``)
around each layer call, and the session writes an uncompressed event
log. This module turns that log into per-description Spark work:

- ``jobs``, ``tasks``;
- ``task_cpu_s`` (executor CPU time), ``gc_s`` (JVM GC time);
- ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb`` (bytes
  spilled to disk);
- ``exchanges``: shuffle ``Exchange`` nodes in the FINAL adaptive plan
  of every SQL execution (the last ``SparkListenerSQLAdaptiveExecutionUpdate``,
  or the start plan when AQE never re-planned);
- ``task_skew``: max ÷ median task duration in the group's busiest
  stage (largest summed task time);
- ``job_intervals``: (submit, end) epoch-ms per job, from which
  ``gap_s`` computes the wall time inside a window with no job running.

Timestamps are epoch milliseconds, the clock ``time.time()`` reads.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    exchanges: int = 0
    task_skew: float = 0.0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


def log_files(path: Path) -> list[Path]:
    """The event log of ONE application: ``path`` itself, the
    ``events_<n>_<app>`` parts of a rolling log under it (in order), or
    the single log file in the directory ``path``."""
    path = Path(path)
    if path.is_file():
        return [path]
    parts = sorted(path.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    if parts:
        return parts
    files = [p for p in path.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise ValueError(f"expected one event log under {path}, found {len(files)}")
    return files


def read_events(path: Path) -> list[dict]:
    events = []
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def count_exchanges(plan: dict) -> int:
    """Shuffle Exchange nodes in a ``sparkPlanInfo`` tree (broadcast
    exchanges and reused exchanges are not counted)."""
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(count_exchanges(c) for c in plan.get("children", ()))


def summarize(events: list[dict]) -> dict[str, Group]:
    """description → Group. Jobs without a description go under ``""``;
    a SQL execution without one is keyed by its call site."""
    untagged = ""
    job_desc: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    task_times: dict[int, list[int]] = {}
    groups: dict[str, Group] = {}

    def group(desc: str) -> Group:
        return groups.setdefault(desc, Group())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or untagged
            jid = ev["Job ID"]
            job_desc[jid] = desc
            job_submit[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", ()):
                stage_desc[sid] = desc
            group(desc).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_desc:
                group(job_desc[jid]).job_intervals.append(
                    (job_submit[jid], ev["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = group(stage_desc.get(sid, untagged))
            g.tasks += 1
            info = ev.get("Task Info") or {}
            task_times.setdefault(sid, []).append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
            m = ev.get("Task Metrics") or {}
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
            eid = ev["executionId"]
            exec_desc[eid] = ev.get("description") or untagged
            final_plan[eid] = ev.get("sparkPlanInfo") or {}
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
            final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    for eid, plan in final_plan.items():
        group(exec_desc.get(eid, untagged)).exchanges += count_exchanges(plan)

    busiest: dict[str, tuple[int, int]] = {}  # desc → (total ms, stage id)
    for sid, times in task_times.items():
        desc = stage_desc.get(sid, untagged)
        total = sum(times)
        if total > busiest.get(desc, (-1, -1))[0]:
            busiest[desc] = (total, sid)
    for desc, (_, sid) in busiest.items():
        times = task_times[sid]
        med = statistics.median(times)
        groups[desc].task_skew = max(times) / med if med > 0 else 1.0
    return groups


def merge_intervals(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out: list[list[int]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def gap_s(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Seconds inside [start_ms, end_ms] covered by no interval."""
    busy = 0.0
    for a, b in merge_intervals(intervals):
        lo, hi = max(a, start_ms), min(b, end_ms)
        if hi > lo:
            busy += hi - lo
    return max(0.0, (end_ms - start_ms) - busy) / 1e3
