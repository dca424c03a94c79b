"""Reduce a Spark JSON event log to a per-stage table.

One row per completed stage attempt: the job description it ran under
(the benchmark sets one per timed operation), task count, executor run,
CPU and GC time, shuffle bytes, spill, and the SQL metrics of a Python
node in the stage (bytes sent to and returned from Python workers).
Standard library only; the log is read after the session has stopped.
"""

from __future__ import annotations

import json
import os
import statistics

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def log_file(log_dir: str) -> str:
    """The single application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def stage_table(path: str) -> list[dict]:
    desc: dict[tuple[int, int], str] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    rows = []
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            props = ev.get("Properties") or {}
            desc[key] = props.get("spark.job.description", "")
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            tasks.setdefault(key, []).append(ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            rows.append(_stage_row(key, info, desc.get(key, ""), tasks.pop(key, [])))
    return rows


def _stage_row(key, info: dict, description: str, task_events: list[dict]) -> dict:
    run_s, cpu_s, gc_s = [], 0.0, 0.0
    shuffle_w = shuffle_r = spill_mem = spill_disk = 0
    sql: dict[str, int] = {}
    for ev in task_events:
        m = ev.get("Task Metrics") or {}
        run_s.append(m.get("Executor Run Time", 0) / 1e3)
        cpu_s += m.get("Executor CPU Time", 0) / 1e9
        gc_s += m.get("JVM GC Time", 0) / 1e3
        spill_mem += m.get("Memory Bytes Spilled", 0)
        spill_disk += m.get("Disk Bytes Spilled", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        r = m.get("Shuffle Read Metrics") or {}
        shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name")
            if name in (PY_SENT, PY_RETURNED):
                sql[name] = sql.get(name, 0) + int(acc.get("Update", 0))
    med = statistics.median(run_s) if run_s else 0.0
    return {
        "stage_id": key[0],
        "attempt": key[1],
        "name": info.get("Stage Name", ""),
        "description": description,
        "tasks": len(task_events),
        "wall_s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3,
        "executor_run_s": sum(run_s),
        "executor_cpu_s": cpu_s,
        "gc_s": gc_s,
        "task_s_max_over_median": max(run_s) / med if med > 0 else 0.0,
        "shuffle_write_bytes": shuffle_w,
        "shuffle_read_bytes": shuffle_r,
        "spill_bytes": spill_mem + spill_disk,
        "py_bytes_sent": sql.get(PY_SENT, 0),
        "py_bytes_returned": sql.get(PY_RETURNED, 0),
    }
