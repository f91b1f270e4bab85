"""Per-phase Spark task metrics from an event log, with the stdlib only.

Every Spark job carries the description the tracer set ("<pass id>/<span
name>"); a task is charged to the description of the first job that
listed its stage. The Python SQL metrics (PythonSQLMetrics in Spark 4.1)
are read from the task accumulables, matched by accumulator id to the
Python plan nodes found in the SQL plan events, so that the generic
"number of output rows" is counted only on Python nodes.
"""

from __future__ import annotations

import json
import os
import re

MB = 1e6

# PythonSQLMetrics metric name -> benchmark metric
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "number of output rows": "python.rows",
}

TASK_METRICS = (
    "spark.tasks",
    "spark.failed_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.input_mb",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
)

_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def event_files(path: str) -> list[str]:
    """The files of one event log: a plain file, or a rolling
    `eventlog_v2_*` directory whose parts are `events_<n>_<app id>`."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str):
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _python_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    metrics = plan.get("metrics", [])
    if any(m["name"] == "data sent to Python workers" for m in metrics):
        for m in metrics:
            key = PYTHON_METRICS.get(m["name"])
            if key:
                out[m["accumulatorId"]] = (key, m["metricType"])
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _scale(metric_type: str, value: float) -> float:
    if metric_type == "size":
        return value / MB
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


def phase_metrics(events) -> dict[str, dict[str, float]]:
    """job description -> {metric: value} summed over its tasks. Jobs
    without a description are charged to the empty string."""
    stage_desc: dict[int, str] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    out: dict[str, dict[str, float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind in _PLAN_EVENTS:
            _python_accumulators(ev["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev["Stage ID"], "")
            m = out.setdefault(desc, dict.fromkeys(
                TASK_METRICS + tuple(PYTHON_METRICS.values()), 0.0))
            info = ev["Task Info"]
            m["spark.tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                m["spark.failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            if tm:
                m["spark.executor_run_s"] += tm["Executor Run Time"] / 1e3
                m["spark.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["spark.jvm_gc_s"] += tm["JVM GC Time"] / 1e3
                m["spark.input_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
                m["spark.shuffle_write_mb"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB)
                rd = tm["Shuffle Read Metrics"]
                m["spark.shuffle_read_mb"] += (
                    rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
                m["spark.spill_mb"] += (
                    tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / MB
            for acc in info.get("Accumulables", []):
                hit = py_acc.get(acc["ID"])
                if hit and "Update" in acc:
                    key, mtype = hit
                    m[key] += _scale(mtype, float(acc["Update"]))
    return out
