"""Roll Spark's own event log up per job group and per stage.

The traced run enables ``spark.eventLog.enabled`` (uncompressed) and
tags each measured step with ``setJobGroup``. This module reads the
resulting JSON-lines log and reports, per stage and per job group:
executor CPU and run time, JVM GC, shuffle bytes written and read,
spill, and the task-duration distribution. SQL metrics of
``MapInPandas`` nodes (the Python boundary: data sent to and returned
from Python workers, worker time, output rows) are matched to tasks
through their accumulator ids.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PYTHON_NODE = "MapInPandas"


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: rolling ``eventlog_v2_*/events_*``
    directories or single-file logs."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    single = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    return rolled + single


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def _new_stats() -> dict:
    return {
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "task_s": [],
        "python": {},
    }


def _add_task(stats: dict, ev: dict, accum_names: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    stats["tasks"] += 1
    stats["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    stats["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    stats["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    stats["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    stats["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    stats["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    stats["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    for acc in info.get("Accumulables", ()):
        node_metric = accum_names.get(acc.get("ID"))
        if node_metric and node_metric[0] == PYTHON_NODE:
            name = node_metric[1]
            stats["python"][name] = stats["python"].get(name, 0) + int(acc.get("Update") or 0)


def _finish(stats: dict) -> dict:
    durations = stats.pop("task_s")
    if durations:
        stats["task_s_max"] = max(durations)
        stats["task_s_median"] = statistics.median(durations)
        stats["task_s_min"] = min(durations)
        stats["task_skew"] = (
            stats["task_s_max"] / stats["task_s_median"] if stats["task_s_median"] else 0.0
        )
    return stats


def rollup(log_dir: str) -> dict:
    """``{"groups": {group: stats}, "stages": {stage_id: stats}}``.

    A stage's ``group`` is the job group of the job that submitted it;
    each stage's ``python`` dict holds the summed MapInPandas metrics of
    its tasks (empty when the stage runs no Python)."""
    events = []
    for path in event_files(log_dir):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    accum_names: dict = {}
    stage_group: dict = {}
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], accum_names)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
    stages: dict = {}
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, {**_new_stats(), "group": stage_group.get(sid, "")})
            _add_task(st, ev, accum_names)
    groups: dict = {}
    for st in stages.values():
        g = groups.setdefault(st["group"], {**_new_stats(), "stages": 0})
        g["stages"] += 1
        for key in ("tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            g[key] += st[key]
        g["task_s"].extend(st["task_s"])
        for name, v in st["python"].items():
            g["python"][name] = g["python"].get(name, 0) + v
    return {
        "groups": {k: _finish(v) for k, v in groups.items()},
        "stages": {k: _finish(v) for k, v in sorted(stages.items())},
    }


def python_stage(roll: dict, group: str) -> dict | None:
    """The stage of ``group`` that ran the MapInPandas UDF (the one with
    the most Python output rows, if AQE split it)."""
    cands = [
        st for st in roll["stages"].values()
        if st["group"] == group and st["python"]
    ]
    if not cands:
        return None
    return max(cands, key=lambda st: st["python"].get("number of output rows", 0))


def count_exchanges(formatted_plan: str) -> int:
    """Shuffle Exchange operators in an ``explain("formatted")`` plan
    (its numbered operator list; broadcasts are not shuffles)."""
    n = 0
    for line in formatted_plan.splitlines():
        parts = line.strip().split(" ", 1)
        if len(parts) == 2 and parts[0].startswith("(") and parts[0].endswith(")"):
            if parts[1].split(" ")[0] == "Exchange":
                n += 1
    return n
