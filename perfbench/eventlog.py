"""Reader for Spark's JSON event log (written uncompressed).

Turns the listener events of one application into per-job records and
sums them per operation. Jobs are mapped to operations by job group
(``spark.jobGroup.id`` in the job's properties); a job whose group is not
mapped falls back to the operation whose time window holds its
submission time, which is exact for a single-threaded closed loop.

SQL metrics ride in the task-end accumulables under their display names;
their unit comes from the ``metricType`` in the plan info of the SQL
execution events (``timing`` is milliseconds, ``nsTiming`` nanoseconds).
"time to initialize Python workers" is kept but flagged unverified: its
per-task values have been seen to sum far past the wall time of the job.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024.0 * 1024.0
PYTHON_RUN = "time to run Python workers"
PYTHON_INIT = "time to initialize Python workers"

# per-operation totals; every key is also emitted as ``spark.<key>``
FIELDS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
    "executor_cpu_s", "gc_s", "task_wait_s", "input_mb", "output_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_run_s",
    "python_init_s_unverified",
)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """Event-log file of ``app_id``; run.py turns rolling logs off, so
    there is one plain file."""
    return [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
            if os.path.isfile(p)]


def _metric_units(plan: dict, units: dict) -> None:
    for m in plan.get("metrics", []):
        units[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", []):
        _metric_units(child, units)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read_jobs(files: list[str]) -> list[dict]:
    """One record per job: group, submission time (epoch ms) and the
    summed task metrics of its stages."""
    units: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"],
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif "sparkPlanInfo" in ev:
                    _metric_units(ev["sparkPlanInfo"], units)
    out = {jid: {**j, **{f: 0.0 for f in FIELDS}} for jid, j in jobs.items()}
    ran: dict[int, set] = defaultdict(set)
    for rec in out.values():
        rec["jobs"] = 1.0
    for ev in tasks:
        sid = ev["Stage ID"]
        jid = stage_job.get(sid)
        if jid is None:
            continue
        rec = out[jid]
        ran[jid].add(sid)
        info = ev["Task Info"]
        rec["tasks"] += 1
        rec["tasks_failed"] += 1 if info.get("Failed") else 0
        submit = stage_submit.get(sid)
        if submit:
            rec["task_wait_s"] += max(0, info["Launch Time"] - submit) / 1e3
        m = ev.get("Task Metrics") or {}
        rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rec["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        rec["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        sr = m.get("Shuffle Read Metrics") or {}
        rec["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        sw = m.get("Shuffle Write Metrics") or {}
        rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        rec["spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name not in (PYTHON_RUN, PYTHON_INIT):
                continue
            secs = _seconds(float(acc.get("Update") or 0),
                            units.get(acc.get("ID"), "timing"))
            key = "python_run_s" if name == PYTHON_RUN else "python_init_s_unverified"
            rec[key] += secs
    for jid, rec in out.items():
        rec["stages"] = float(len(ran[jid]))
    return list(out.values())


def per_operation(jobs: list[dict], groups: dict[str, tuple[int, str]],
                  windows: list[tuple[int, float, float]]) -> dict:
    """Sum job records per (operation id, phase). ``groups`` maps a job
    group to (op id, phase); ``windows`` holds (op id, start_ms, end_ms)
    for the time-window fallback, whose phase is ``"exec"``."""
    totals: dict[tuple[int, str], dict] = defaultdict(
        lambda: {f: 0.0 for f in FIELDS})
    unattributed = 0     # jobs inside the loop's span that match no op
    lo = min((a for _, a, _ in windows), default=0.0)
    hi = max((b for _, _, b in windows), default=0.0)
    for job in jobs:
        key = groups.get(job["group"])
        if key is None:
            key = next(((op, "exec") for op, a, b in windows
                        if a <= job["submit_ms"] <= b), None)
        if key is None:
            unattributed += lo <= job["submit_ms"] <= hi
            continue
        acc = totals[key]
        for f in FIELDS:
            acc[f] += job[f]
    return {"by_op": dict(totals), "unattributed_jobs": unattributed}
