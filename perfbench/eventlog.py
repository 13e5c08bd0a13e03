"""Spark event-log reader for the traced run.

Same parse as ``scripts/parse_eventlog.py`` (job start/end, job
description, tasks per stage), returned as records instead of printed,
plus the interval arithmetic the per-layer metrics need. Times are epoch
milliseconds, the clock the benchmark's own spans use.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _lines(path: str):
    """Event-log lines; a rolling log is a directory of events_<n>_ files."""
    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for fp in files:
        with open(fp, encoding="utf-8") as f:
            yield from f


def read_jobs(path: str) -> list[dict]:
    """One record per job: start, end, desc, stage ids, task count."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, int] = defaultdict(int)
    for line in _lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            infos = ev.get("Stage Infos", [])
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "end": None,
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                ),
                "stages": [s["Stage ID"] for s in infos],
            }
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]] += 1
    out = []
    for jid in sorted(jobs, key=lambda j: jobs[j]["start"]):
        job = jobs[jid]
        job["end"] = job["end"] or job["start"]
        job["tasks"] = sum(tasks.get(s, 0) for s in job["stages"])
        out.append(job)
    return out


_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def read_writes(path: str) -> list[dict]:
    """SQL executions that write files: start, end, the plan's first line."""
    execs: dict[int, dict] = {}
    for line in _lines(path):
        if _SQL not in line:
            continue
        ev = json.loads(line)
        if ev["Event"] == _SQL + "Start":
            plan = ev.get("physicalPlanDescription", "")
            if "InsertIntoHadoopFsRelationCommand" in plan:
                execs[ev["executionId"]] = {
                    "start": ev["time"], "end": ev["time"], "plan": plan,
                }
        elif ev["Event"] == _SQL + "End" and ev["executionId"] in execs:
            execs[ev["executionId"]]["end"] = ev["time"]
    return sorted(execs.values(), key=lambda e: e["start"])


def find_log(log_dir: str) -> str:
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def within(jobs: list[dict], t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted inside [t0, t1]."""
    return [j for j in jobs if t0_ms <= j["start"] <= t1_ms]


def busy_ms(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Length of the union of the jobs' intervals, clipped to [t0, t1]."""
    spans = sorted(
        (max(j["start"], t0_ms), min(j["end"], t1_ms)) for j in jobs
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
