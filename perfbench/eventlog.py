"""Offline reader for the Spark event log of the traced session.

Only jobs whose job group is the one passed in are counted, so the probes
a traced run makes around its headline call do not leak into the counters.
Works on the rolling (v2) layout and on a single plain log file.
"""

from __future__ import annotations

import json
import os
import statistics

# SQL metrics of the Python operators, as named in the task accumulables
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"


def _log_lines(log_dir: str):
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith((".", "appstatus"))]
    # rolling logs are events_<n>_<app>: replay them in order
    files.sort(key=lambda p: (os.path.dirname(p), _part_no(p)))
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f


def _part_no(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def counters(log_dir: str, job_group: str) -> dict[str, float]:
    stages: set[int] = set()
    jobs = 0
    tasks: list[dict] = []
    for line in _log_lines(log_dir):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == job_group:
                jobs += 1
                stages.update(e.get("Stage IDs", ()))
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    out = {k: 0.0 for k in (
        "run_ms", "cpu_ns", "gc_ms", "deser_ms", "shuffle_write",
        "shuffle_read", "spill", "input", "output", "py_sent", "py_back",
        "py_rows", "py_run_ms", "py_start_ms")}
    per_stage: dict[int, list[float]] = {}
    n_tasks = 0
    for e in tasks:
        if e.get("Stage ID") not in stages:
            continue
        n_tasks += 1
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out["run_ms"] += m.get("Executor Run Time", 0)
        out["cpu_ns"] += m.get("Executor CPU Time", 0)
        out["gc_ms"] += m.get("JVM GC Time", 0)
        out["deser_ms"] += m.get("Executor Deserialize Time", 0)
        out["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
        out["spill"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
        records = (m.get("Input Metrics") or {}).get("Records Read", 0)
        out["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        acc: dict[str, int] = {}
        for a in (e.get("Task Info") or {}).get("Accumulables", ()):
            name = a.get("Name")
            if name in (_PY_SENT, _PY_BACK, _PY_RUN, _PY_START):
                acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
        out["py_sent"] += acc.get(_PY_SENT, 0)
        out["py_back"] += acc.get(_PY_BACK, 0)
        out["py_run_ms"] += acc.get(_PY_RUN, 0)
        out["py_start_ms"] += acc.get(_PY_START, 0)
        if acc.get(_PY_SENT, 0):
            # rows a scan feeds straight into a Python operator
            out["py_rows"] += records
        info = e.get("Task Info") or {}
        per_stage.setdefault(e["Stage ID"], []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0))
    skew = max((max(d) / max(statistics.median(d), 1)
                for d in per_stage.values() if len(d) > 1), default=1.0)
    return {
        "spark.jobs": jobs,
        "spark.tasks": n_tasks,
        "spark.task_time_max_over_median": round(skew, 4),
        "spark.executor_run_s": out["run_ms"] / 1e3,
        "spark.executor_cpu_s": out["cpu_ns"] / 1e9,
        "spark.gc_s": out["gc_ms"] / 1e3,
        "spark.deserialize_s": out["deser_ms"] / 1e3,
        "spark.shuffle_write_bytes": int(out["shuffle_write"]),
        "spark.shuffle_read_bytes": int(out["shuffle_read"]),
        "spark.spill_bytes": int(out["spill"]),
        "spark.input_bytes": int(out["input"]),
        "spark.output_bytes": int(out["output"]),
        "boundary.rows_to_python": int(out["py_rows"]),
        "boundary.bytes_to_python": int(out["py_sent"]),
        "boundary.bytes_from_python": int(out["py_back"]),
        "boundary.python_run_s": out["py_run_ms"] / 1e3,
        "boundary.python_start_s": out["py_start_ms"] / 1e3,
    }
