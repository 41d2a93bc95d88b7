"""Per-op cost rows from a Spark event log.

The benchmark labels every job with ``spark.job.description`` =
``<workload>:<op>`` (or ``<workload>:<op>:<phase>``). This module reads
the uncompressed JSON-lines event log Spark writes when launched with
``spark.eventLog.enabled=true`` and folds ``JobStart``, ``JobEnd`` and
``TaskEnd`` events into one row per description.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# SQL metrics of the Python-UDF exec nodes (MapInPandas and friends),
# found by walking the plans in SQL-execution events
PY_METRICS = {"data sent to Python workers": "python_bytes_sent",
              "number of output rows": "python_rows_returned"}
SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui."
    "SparkListenerSQLAdaptiveExecutionUpdate")


def new_row() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_intervals": [],
            "python_bytes_sent": 0, "python_rows_returned": 0}


def _event_files(log_dir: str) -> list[str]:
    """Plain and rolling (``eventlog_v2_*/events_*``) logs alike; the
    rolling layout's empty ``appstatus_*`` marker is skipped."""
    out = []
    for base, _dirs, files in os.walk(log_dir):
        out += [os.path.join(base, f) for f in files
                if not f.startswith((".", "appstatus"))]
    return sorted(out)


def summarize(log_dir: str) -> dict[str, dict]:
    """Rows keyed by job description; jobs without one are skipped."""
    job_desc: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    py_accums: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(new_row)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind in SQL_PLAN_EVENTS:
                    _python_accums(ev.get("sparkPlanInfo") or {}, py_accums)
                elif kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    if not desc:
                        continue
                    jid = ev["Job ID"]
                    job_desc[jid] = desc
                    job_submit[jid] = ev["Submission Time"]
                    rows[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_desc:
                        rows[job_desc[jid]]["job_intervals"].append(
                            (job_submit[jid] / 1000.0,
                             ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    if desc is None:
                        continue
                    _add_task(rows[desc], ev, py_accums)
    return dict(rows)


def _python_accums(node: dict, out: dict[int, str]) -> None:
    if "Python" in node.get("nodeName", "") or "Pandas" in node.get(
            "nodeName", ""):
        for m in node.get("metrics", []):
            if m.get("name") in PY_METRICS:
                out[m["accumulatorId"]] = PY_METRICS[m["name"]]
    for child in node.get("children", []):
        _python_accums(child, out)


def _add_task(row: dict, ev: dict, py_accums: dict[int, str]) -> None:
    m = ev.get("Task Metrics") or {}
    row["tasks"] += 1
    row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    row["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = py_accums.get(acc.get("ID"))
        if key is not None:
            row[key] += int(acc.get("Update") or 0)


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def merge(rows: list[dict]) -> dict:
    out = new_row()
    for r in rows:
        for k, v in r.items():
            out[k] = out[k] + v
    return out
