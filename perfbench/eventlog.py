"""Parser for Spark event logs (uncompressed JSON lines).

Groups jobs by their job group id (``spark.jobGroup.id``, set by
``SparkContext.setJobGroup``) and sums, per group, the executor-side
task metrics and the Python-worker SQL metrics of the tasks those jobs
ran. Job submission and completion times (epoch ms) are kept so
callers can measure the driver time between jobs.
"""
from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# task metric -> summed field; times in seconds, sizes in bytes
EXECUTOR_FIELDS = ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes", "input_bytes",
                   "output_bytes")
PYTHON_FIELDS = {"data sent to Python workers": "bytes_sent",
                 "data returned from Python workers": "bytes_received"}


def event_files(path: str) -> list:
    """The files of an event log: a single file, or the ``events_*``
    parts of a rolling event-log directory in order."""
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "events_*"))
        return sorted(parts, key=lambda p: int(
            os.path.basename(p).split("_")[1]))
    return [path]


def read_events(path: str):
    for p in event_files(path):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task_metrics(m: dict) -> dict:
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "task_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def _new_group() -> dict:
    g = {"jobs": [], "stages": 0, "tasks": 0}
    g.update({k: 0 for k in EXECUTOR_FIELDS})
    g.update({k: 0 for k in PYTHON_FIELDS.values()})
    return g


def summarize(events) -> dict:
    """Per job group: ``jobs`` (list of ``[submit_ms, complete_ms]``),
    executed ``stages`` and ``tasks``, the executor totals in
    ``EXECUTOR_FIELDS`` and the Python-worker byte counts. Jobs without a
    group collect under ``""``."""
    stage_group = {}
    job_interval = {}
    groups = defaultdict(_new_group)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = gid
            interval = [e["Submission Time"], None]
            groups[gid]["jobs"].append(interval)
            job_interval[e["Job ID"]] = interval
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_interval:
                job_interval[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            gid = stage_group.get(e["Stage Info"]["Stage ID"])
            if gid is not None:
                groups[gid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(e["Stage ID"])
            if gid is None:
                continue
            g = groups[gid]
            g["tasks"] += 1
            for k, v in _task_metrics(e.get("Task Metrics") or {}).items():
                g[k] += v
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                field = PYTHON_FIELDS.get(acc.get("Name"))
                if field and acc.get("Update") is not None:
                    g[field] += int(acc["Update"])
    return dict(groups)
