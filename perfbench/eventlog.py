"""Stdlib reader for Spark's uncompressed JSON-lines event log.

Folds the events of the jobs submitted inside given time windows into
per-layer counters: jobs, stages, tasks, executor time, input / shuffle
/ spill / output bytes, the Python-worker accumulables, failed tasks,
and the time a job was in flight with no task running. Jobs are picked
by time, not job group, because a streaming query runs its micro-batch
jobs under its own group.

The log is the rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)
that Spark 4 writes by default.
"""

from __future__ import annotations

import json
import os
import re

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # milliseconds

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.skipped_stage_frac",
    "spark.executor_idle_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "sources.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes",
    "operators.py_sent_bytes",
    "operators.py_returned_bytes",
    "operators.py_run_s",
    "sinks.output_bytes",
    "sinks.output_rows",
    "spark.failed_tasks",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolled parts in index order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        parts = [(int(m.group(1)), f) for f in files
                 if (m := re.fullmatch(r"events_(\d+)_.*", f))]
        out += [os.path.join(root, f) for _i, f in sorted(parts)]
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of millisecond intervals."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def summarize(events, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Per-layer counters over the jobs submitted inside one of
    ``windows`` (epoch milliseconds, inclusive). Stages and tasks belong
    to the job that submitted them; a stage listed by a job but never
    submitted counts as skipped (its shuffle output was reused)."""
    stage_job: dict[int, int] = {}
    listed: set[int] = set()
    submitted: set[int] = set()
    job_span: dict[int, list[int]] = {}
    tasks: list[tuple[int, int]] = []
    c = dict.fromkeys(COUNTERS, 0.0)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            if not any(a <= t <= b for a, b in windows):
                continue
            jid = e["Job ID"]
            job_span[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
                listed.add(sid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                submitted.add(sid)
        elif kind == "SparkListenerTaskEnd":
            if e.get("Stage ID") not in stage_job:
                continue
            _fold_task(e, c, tasks)
    c["spark.jobs"] = float(len(job_span))
    c["spark.stages"] = float(len(submitted))
    c["spark.skipped_stage_frac"] = (
        len(listed - submitted) / len(listed) if listed else 0.0
    )
    c["spark.tasks"] = float(len(tasks))
    c["spark.executor_idle_s"] = _union_s(
        [tuple(s) for s in job_span.values()]
    ) - _union_s(tasks)
    return c


def _fold_task(e: dict, c: dict[str, float], tasks: list) -> None:
    info = e.get("Task Info") or {}
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        c["spark.failed_tasks"] += 1
    if info.get("Launch Time") and info.get("Finish Time"):
        tasks.append((info["Launch Time"], info["Finish Time"]))
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["sources.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    c["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    c["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    out = m.get("Output Metrics") or {}
    c["sinks.output_bytes"] += out.get("Bytes Written", 0)
    c["sinks.output_rows"] += out.get("Records Written", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name in (PY_SENT, PY_RETURNED, PY_RUN):
            v = float(acc.get("Update") or 0)
            if name == PY_SENT:
                c["operators.py_sent_bytes"] += v
            elif name == PY_RETURNED:
                c["operators.py_returned_bytes"] += v
            else:
                c["operators.py_run_s"] += v / 1e3


def jobs_per_group(events) -> dict[str, int]:
    """Job count per ``spark.jobGroup.id``."""
    out: dict[str, int] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group] = out.get(group, 0) + 1
    return out
