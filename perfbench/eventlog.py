"""Sum a Spark event log per job group.

The benchmark's traced session tags every query phase with
``setJobGroup("<pass>|<query>|<phase>")`` and writes an uncompressed,
non-rolling event log. This module maps each stage to the group of the
job that submitted it and adds up the ``SparkListenerTaskEnd`` metrics
of its tasks, plus the Python-worker SQL metrics carried as task
accumulables.
"""

from __future__ import annotations

import glob
import json
from collections import defaultdict

# Task-accumulable names of PythonSQLMetrics (Spark 4.x).
PY_BYTES_SENT = "data sent to Python workers"
PY_BYTES_RECEIVED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_START_MS = ("time to start Python workers", "time to initialize Python workers")

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "shuffle_write_b",
    "shuffle_read_b",
    "spill_b",
    "peak_mem_b",
    "input_b",
    "input_records",
    "py_sent_b",
    "py_received_b",
    "py_run_ms",
    "py_start_ms",
)


def _empty() -> dict[str, float]:
    return dict.fromkeys(FIELDS, 0)


def read(log_dir: str) -> dict[str, dict[str, float]]:
    """Return ``{job_group: {field: total}}`` for every event log file
    under ``log_dir``; ``peak_mem_b`` is the largest per-task peak."""
    groups: dict[str, dict[str, float]] = defaultdict(_empty)
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        groups[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(groups[group], ev)
    return dict(groups)


def _add_task(g: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["run_ms"] += m.get("Executor Run Time", 0)
    g["cpu_ns"] += m.get("Executor CPU Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    g["peak_mem_b"] = max(g["peak_mem_b"], m.get("Peak Execution Memory", 0))
    inp = m.get("Input Metrics") or {}
    g["input_b"] += inp.get("Bytes Read", 0)
    g["input_records"] += inp.get("Records Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float, str)):
            continue
        if name == PY_BYTES_SENT:
            g["py_sent_b"] += int(update)
        elif name == PY_BYTES_RECEIVED:
            g["py_received_b"] += int(update)
        elif name == PY_RUN_MS:
            g["py_run_ms"] += int(update)
        elif name in PY_START_MS:
            g["py_start_ms"] += int(update)
