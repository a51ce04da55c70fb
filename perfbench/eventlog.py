"""Offline reader of Spark's JSON event log.

The traced run enables the event log from outside the library
(``PYSPARK_SUBMIT_ARGS``, see ``run.py``). After ``spark.stop()`` this
module sums, per job-group label, the task metrics (executor time, GC,
shuffle, spill), the Python-boundary SQL metrics, and the scans' driver
metric "number of files read". Only job groups that ``JobProbe`` set
(prefix ``pb:``) are counted, so set-up and output checks stay out.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
    "python_bytes_sent", "python_bytes_received", "python_rows_received",
    "files_read",
)

_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def _is_python_node(name: str) -> bool:
    return any(k in name for k in ("Python", "Pandas", "Arrow"))


def _walk_plan(info: dict, acc_names: dict[int, str]) -> None:
    """Record accumulator id -> field for the metrics this parser sums."""
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        name, acc = m.get("name"), m.get("accumulatorId")
        if name in _PY_METRICS:
            acc_names[acc] = _PY_METRICS[name]
        elif name == "number of output rows" and _is_python_node(node):
            acc_names[acc] = "python_rows_received"
        elif name == "number of files read":
            acc_names[acc] = "files_read"
    for child in info.get("children", []):
        _walk_plan(child, acc_names)


def label_of(group: str | None, prefix: str = "pb:") -> str | None:
    """``pb:<n>:<label>`` -> ``<label>``; other groups -> None."""
    if not group or not group.startswith(prefix):
        return None
    return group[len(prefix):].split(":", 1)[-1]


def parse(path: str, prefix: str = "pb:") -> dict[str, dict[str, float]]:
    """Label -> summed fields over every job group tagged with ``prefix``."""
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    task_ends: list[dict] = []
    driver_updates: list[tuple[int, list]] = []
    for line in _lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = label_of(props.get("spark.jobGroup.id"), prefix)
            if label is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_label.setdefault(int(eid), label)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo") or {}, acc_names)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            _walk_plan({"metrics": ev.get("sqlPlanMetrics", [])}, acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(
                (int(ev["executionId"]), ev.get("accumUpdates", [])))

    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for ev in task_ends:
        label = stage_label.get(ev.get("Stage ID"))
        if label is None:
            continue
        row = out[label]
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        row["tasks"] += 1
        row["executor_run_ms"] += tm.get("Executor Run Time", 0)
        row["gc_ms"] += tm.get("JVM GC Time", 0)
        row["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        row["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
        inp = tm.get("Input Metrics") or {}
        row["input_bytes"] += inp.get("Bytes Read", 0)
        row["input_rows"] += inp.get("Records Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            field = acc_names.get(acc.get("ID"))
            if field is not None and field != "files_read":
                row[field] += int(acc.get("Update") or 0)
    for eid, updates in driver_updates:
        label = exec_label.get(eid)
        if label is None:
            continue
        for acc, value in updates:
            if acc_names.get(acc) == "files_read":
                out[label]["files_read"] += int(value)
    return dict(out)


def _lines(path: str):
    """Lines of a plain log file, or of a rolling log directory's
    ``events_<n>_*`` files in order."""
    files = [path]
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        parts.sort(key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in parts]
    for f in files:
        with open(f) as fh:
            yield from fh


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


def totals(by_label: dict[str, dict[str, float]],
           keep=lambda label: True) -> dict[str, float]:
    out = dict.fromkeys(FIELDS, 0)
    for label, row in by_label.items():
        if keep(label):
            for f in FIELDS:
                out[f] += row[f]
    return out
