"""Spark event log -> engine metrics per job group.

The traced child turns the event log on from outside (``SPARK_CONF_DIR``)
and names a job group per layer call; this module folds the log's task
metrics and SQL metric updates into one record per group.  The Python
worker figures come from Spark's ``PythonSQLMetrics`` ("time to start /
run Python workers", "data sent to / returned from Python workers").
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_METRICS = (PY_START, PY_RUN, PY_SENT, PY_RETURNED)


def _group_record() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "output_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        PY_START: 0,
        PY_RUN: 0,
        PY_SENT: 0,
        PY_RETURNED: 0,
        "python_stage_run_s": 0.0,
        "task_times": defaultdict(list),
        "cached_bytes_peak": 0,
    }


def parse(path: str) -> dict:
    """``{group: record}`` for every job group in the event log."""
    groups: dict = defaultdict(_group_record)
    stage_group: dict = {}
    stage_run: dict = defaultdict(float)
    python_stages: set = set()
    blocks: dict = {}
    cached = 0
    running: dict = {}  # job id -> group, for jobs in flight
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "untraced"
                rec = groups[group]
                rec["jobs"] += 1
                running[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                running.pop(ev["Job ID"], None)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "untraced")
                rec = groups[group]
                rec["stages"].add(ev["Stage ID"])
                rec["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                rec["executor_run_s"] += run_s
                stage_run[ev["Stage ID"]] += run_s
                rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                rec["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                info = ev.get("Task Info") or {}
                rec["task_times"][ev["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in PY_METRICS:
                        rec[name] += int(acc.get("Update") or 0)
                        python_stages.add(ev["Stage ID"])
            elif kind == "SparkListenerBlockUpdated":
                b = ev["Block Updated Info"]
                if str(b["Block ID"]).startswith("rdd_"):
                    size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
                    cached += size - blocks.get(b["Block ID"], 0)
                    blocks[b["Block ID"]] = size
                    for group in set(running.values()):
                        rec = groups[group]
                        rec["cached_bytes_peak"] = max(rec["cached_bytes_peak"], cached)
    for group, rec in groups.items():
        rec["python_stage_run_s"] = sum(stage_run[s] for s in rec["stages"] if s in python_stages)
    return groups


def merge(recs: list) -> dict:
    """One record for several groups (a span and the spans under it)."""
    out = _group_record()
    for rec in recs:
        for k, v in rec.items():
            if k == "stages":
                out[k] |= v
            elif k == "task_times":
                for sid, times in v.items():
                    out[k][sid].extend(times)
            elif k == "cached_bytes_peak":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out


def metrics(rec: dict) -> dict:
    """The ``spark.*`` per-layer metrics of one group record."""
    skew = 1.0
    if rec["task_times"]:
        longest = max(rec["task_times"].values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    mb = 1e6
    return {
        "spark.jobs": rec["jobs"],
        "spark.stages": len(rec["stages"]),
        "spark.tasks": rec["tasks"],
        "spark.executor_run_s": rec["executor_run_s"],
        "spark.executor_cpu_s": rec["executor_cpu_s"],
        "spark.gc_s": rec["gc_s"],
        "spark.shuffle_write_mb": rec["shuffle_write_bytes"] / mb,
        "spark.shuffle_read_mb": rec["shuffle_read_bytes"] / mb,
        "spark.spill_mb": rec["spill_bytes"] / mb,
        # SQL timing metrics of the Python runners are milliseconds
        "spark.python_start_s": rec[PY_START] / 1e3,
        "spark.python_run_s": rec[PY_RUN] / 1e3,
        "spark.python_sent_mb": rec[PY_SENT] / mb,
        "spark.python_returned_mb": rec[PY_RETURNED] / mb,
        "spark.task_skew": skew,
    }
