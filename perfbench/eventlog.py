"""Spark event-log parser: per-job-group layer counters.

The traced run sets a job group per span (``<op>|<layer>``) and turns
on Spark's own uncompressed, non-rolling event log. This module reads
that JSON-lines file after the session stops and sums, per job group:
jobs, job wall time, tasks and failed tasks, executor run/CPU/GC time,
input, output, shuffle and spill bytes, peak execution memory, and the
SQL scan metrics "number of files read" and "size of files
read" (the task input metric misses bytes the parquet reader fetches
off the task thread, so scan sizes come from the SQL metric).
"""

from __future__ import annotations

import json
from collections import defaultdict

SUM_FIELDS = (
    "jobs", "job_wall_s", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "files_read", "files_bytes",
)


def _new_group() -> dict[str, float]:
    g = {k: 0 for k in SUM_FIELDS}
    g["peak_exec_mem_bytes"] = 0
    return g


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Return ``{job_group: counters}``; jobs without a group are
    reported under the empty string."""
    groups: dict[str, dict[str, float]] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    exec_accums: dict[int, list[tuple[int, int]]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                jid = e["Job ID"]
                job_group[jid] = g
                job_start[jid] = e["Submission Time"]
                groups[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), g)
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                groups[job_group[jid]]["job_wall_s"] += (e["Completion Time"] - job_start[jid]) / 1e3
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "")]
                g["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                g["peak_exec_mem_bytes"] = max(g["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(e.get("sparkPlanInfo") or {}, accum_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                exec_accums[e["executionId"]].extend(map(tuple, e["accumUpdates"]))
    # plan metric names can arrive after their values (adaptive re-plans),
    # so resolve them once the whole log is read
    for ex, updates in exec_accums.items():
        if ex in exec_group:
            named = [(accum_name.get(acc_id), v) for acc_id, v in updates]
            g = groups[exec_group[ex]]
            g["files_read"] += sum(v for n, v in named if n == "number of files read")
            g["files_bytes"] += sum(v for n, v in named if n == "size of files read")
    return dict(groups)
