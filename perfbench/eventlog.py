"""Reader for Spark's JSON-lines event log, grouped by job group.

The log must be written uncompressed and unrolled
(`spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`);
Spark 4.1 otherwise writes rolling zstd files. Every job carries its
`spark.jobGroup.id` in the JobStart properties, so each stage, task and
SQL operator metric can be charged to the group of the job that first
listed its stage.

`read_event_log` returns three row lists:

* jobs:   group, job, start_s, end_s (epoch seconds)
* stages: group, job, stage, tasks, wall_s, run_s, cpu_s, gc_s,
          shuffle_read_bytes, shuffle_write_bytes, spill_bytes,
          task_max_s, task_median_s
* sql:    group, stage, name, value — one row per named SQL metric of
          the stage, e.g. "time to run Python workers" (ms) and "data
          sent to Python workers" (bytes)

`group_counters` folds them into one counter dict per job group.
"""

from __future__ import annotations

import json
import statistics

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def read_event_log(path: str) -> tuple[list[dict], list[dict], list[dict]]:
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    tasks: dict[int, list[dict]] = {}
    completed: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_start[job] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                completed.append(ev["Stage Info"])

    jobs = [
        {"group": job_group[j], "job": j, "start_s": job_start[j], "end_s": job_end[j]}
        for j in sorted(job_start)
        if j in job_end
    ]
    stages, sql = [], []
    for info in completed:
        sid = info["Stage ID"]
        job = stage_job.get(sid)
        group = job_group.get(job)
        row = {
            "group": group,
            "job": job,
            "stage": sid,
            "tasks": 0,
            "wall_s": (info["Completion Time"] - info["Submission Time"]) / 1000.0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        durations = []
        for t in tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            info_t = t["Task Info"]
            durations.append((info_t["Finish Time"] - info_t["Launch Time"]) / 1000.0)
            row["tasks"] += 1
            row["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        row["task_max_s"] = max(durations, default=0.0)
        row["task_median_s"] = statistics.median(durations) if durations else 0.0
        stages.append(row)
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql" and "Name" in acc:
                sql.append(
                    {"group": group, "stage": sid, "name": acc["Name"], "value": float(acc["Value"])}
                )
    return jobs, stages, sql


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def group_counters(jobs: list[dict], stages: list[dict], sql: list[dict]) -> dict[str, dict]:
    """group → counters: jobs, jobs_s (union of job intervals),
    executor_run_s, executor_cpu_s, gc_s, shuffle_bytes (written),
    shuffle_read_bytes, spill_bytes, task_skew (max over median task
    time in the group's longest stage, the median floored at 1 ms),
    python_worker_s, python_bytes_sent."""
    out: dict[str, dict] = {}

    def slot(group: str) -> dict:
        return out.setdefault(
            group,
            {
                "jobs": 0,
                "jobs_s": 0.0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
                "task_skew": 0.0,
                "python_worker_s": 0.0,
                "python_bytes_sent": 0.0,
                "_intervals": [],
                "_longest": None,
            },
        )

    for j in jobs:
        if j["group"] is None:
            continue
        c = slot(j["group"])
        c["jobs"] += 1
        c["_intervals"].append((j["start_s"], j["end_s"]))
    for s in stages:
        if s["group"] is None:
            continue
        c = slot(s["group"])
        c["executor_run_s"] += s["run_s"]
        c["executor_cpu_s"] += s["cpu_s"]
        c["gc_s"] += s["gc_s"]
        c["shuffle_bytes"] += s["shuffle_write_bytes"]
        c["shuffle_read_bytes"] += s["shuffle_read_bytes"]
        c["spill_bytes"] += s["spill_bytes"]
        if s["tasks"] and (c["_longest"] is None or s["wall_s"] > c["_longest"]["wall_s"]):
            c["_longest"] = s
    for m in sql:
        if m["group"] is None:
            continue
        if m["name"] == PY_RUN:
            slot(m["group"])["python_worker_s"] += m["value"] / 1000.0
        elif m["name"] == PY_SENT:
            slot(m["group"])["python_bytes_sent"] += m["value"]
    for c in out.values():
        c["jobs_s"] = _union_s(c.pop("_intervals"))
        longest = c.pop("_longest")
        if longest is not None:
            c["task_skew"] = longest["task_max_s"] / max(longest["task_median_s"], 0.001)
    return out
