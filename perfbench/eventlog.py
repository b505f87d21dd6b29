"""Reader for Spark's JSON event log (uncompressed, non-rolling).

Aggregates `SparkListenerTaskEnd` metrics per job description, the string
the benchmark sets with `SparkContext.setJobDescription` before each op.
Spark copies a job's local properties onto each of its stages, so a task is
attributed through its stage's `spark.job.description`.

Scan volume comes from the file scans' driver-side SQL metric "size of files
read", attributed through the SQL execution's description: on Spark 4.1 the
tasks' input metrics count only the parquet footers.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class JobStats:
    """Totals over every job that ran under one description."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # max over stages of (max task run time / median task run time)
    task_skew_max: float = 0.0
    stage_run_ms: dict[int, list[int]] = field(default_factory=dict, repr=False)

    def add(self, other: JobStats) -> None:
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "scan_mb",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_skew_max = max(self.task_skew_max, other.task_skew_max)


def _skew(run_ms: list[int]) -> float:
    # Tasks of a few milliseconds round to 0 ms; floor the median at 1 ms.
    return max(run_ms) / max(statistics.median(run_ms), 1.0)


def _file_size_ids(plan: dict, ids: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "size of files read":
            ids.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _file_size_ids(child, ids)


def read(path: str) -> dict[str, JobStats]:
    """Per-description totals from the event log file at `path`.  Jobs run
    with no description are grouped under the empty string."""
    stage_desc: dict[int, str] = {}
    sql_desc: dict[int, str] = {}
    size_ids: set[int] = set()
    out: dict[str, JobStats] = defaultdict(JobStats)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerSQLExecutionStart":
                sql_desc[ev["executionId"]] = ev.get("description", "")
                _file_size_ids(ev["sparkPlanInfo"], size_ids)
            elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                _file_size_ids(ev["sparkPlanInfo"], size_ids)
            elif kind == "SparkListenerDriverAccumUpdates":
                desc = sql_desc.get(ev["executionId"], "")
                out[desc].scan_mb += sum(v for i, v in ev["accumUpdates"] if i in size_ids) / MB
            elif kind == "SparkListenerJobStart":
                out[(ev.get("Properties") or {}).get("spark.job.description", "")].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_desc.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                s = out[stage_desc.get(ev["Stage ID"], "")]
                s.tasks += 1
                s.task_run_s += m["Executor Run Time"] / 1e3
                s.task_cpu_s += m["Executor CPU Time"] / 1e9
                s.gc_s += m["JVM GC Time"] / 1e3
                s.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                r = m["Shuffle Read Metrics"]
                s.shuffle_read_mb += (r["Remote Bytes Read"] + r["Local Bytes Read"]) / MB
                s.spill_mb += m["Disk Bytes Spilled"] / MB
                s.stage_run_ms.setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
    for s in out.values():
        s.task_skew_max = max((_skew(v) for v in s.stage_run_ms.values()), default=0.0)
    return dict(out)


def total(stats: dict[str, JobStats], descs) -> JobStats:
    """Sum of the stats of the given descriptions (missing ones count as 0)."""
    acc = JobStats()
    for d in descs:
        if d in stats:
            acc.add(stats[d])
    return acc
