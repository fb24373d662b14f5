"""Spark event-log parser: per-tag job, stage, task and SQL-metric totals.

The benchmark tags every job it causes with ``sc.setJobDescription(tag)``
(``"cold:<query>"``, ``"warm1:<query>"``, ...). Spark copies the description
into the properties of each job and stage it submits, and the uncompressed
event log (``spark.eventLog.compress=false``) is plain JSON lines. This module
reads ``SparkListenerJobStart``/``JobEnd``, ``StageSubmitted`` and ``TaskEnd``
events, plus the SQL metrics the driver posts for each SQL execution, and sums
them per tag. Jobs without a description count under ``UNTAGGED``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
from collections import defaultdict

UNTAGGED = "<untagged>"

# SQL metric name (as SQLMetrics registers it) -> (stats key, scale to base unit)
# Every timing metric here, the Python-worker ones included, is milliseconds.
SQL_METRICS = {
    "scan time": ("scan_time_s", 1e-3),
    "time in aggregation build": ("agg_build_s", 1e-3),
    "time to build hash map": ("join_build_s", 1e-3),
    "sort time": ("sort_time_s", 1e-3),
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("py_returned_mb", 1 / 2**20),
}

# SQL metrics the driver posts itself (SparkListenerDriverAccumUpdates):
# file listing sizes and broadcast-side hash builds never reach a task.
DRIVER_METRICS = {
    "size of files read": ("scan_mb", 1 / 2**20),
    "time to build": ("join_build_s", 1e-3),
}
_SQL = "org.apache.spark.sql.execution.ui."

# task-metric path in TaskEnd "Task Metrics" -> (stats key, scale)
TASK_METRICS = {
    ("Executor Run Time",): ("run_s", 1e-3),
    ("Executor CPU Time",): ("cpu_s", 1e-9),
    ("JVM GC Time",): ("gc_s", 1e-3),
    ("Executor Deserialize Time",): ("deser_s", 1e-3),
    ("Result Size",): ("result_mb", 1 / 2**20),
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): ("shuffle_write_mb", 1 / 2**20),
    ("Shuffle Read Metrics", "Remote Bytes Read"): ("shuffle_read_mb", 1 / 2**20),
    ("Shuffle Read Metrics", "Local Bytes Read"): ("shuffle_read_mb", 1 / 2**20),
    ("Shuffle Read Metrics", "Fetch Wait Time"): ("fetch_wait_s", 1e-3),
    ("Disk Bytes Spilled",): ("spill_mb", 1 / 2**20),
}

STAT_KEYS = tuple(
    dict.fromkeys(
        k
        for k, _ in (
            *SQL_METRICS.values(),
            *DRIVER_METRICS.values(),
            *TASK_METRICS.values(),
        )
    )
)


def new_stats() -> dict:
    """Empty per-tag totals: counts, job intervals and every STAT_KEYS sum."""
    s = {"jobs": 0, "stages": set(), "tasks": 0, "intervals": []}
    s.update(dict.fromkeys(STAT_KEYS, 0.0))
    return s


def _desc(props: dict | None) -> str:
    return (props or {}).get("spark.job.description") or UNTAGGED


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metric_names(child, out)


def parse_lines(lines) -> dict[str, dict]:
    """Fold event-log JSON lines into {tag: stats} (see new_stats)."""
    stats: dict[str, dict] = defaultdict(new_stats)
    job_tag: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_tag: dict[int, str] = {}
    acc_name: dict[int, str] = {}  # SQL accumulator id -> metric name
    exec_tag: dict[str, str] = {}  # SQL execution id -> tag of its first job
    driver_acc: list[tuple[str, int, float]] = []  # (execution id, acc id, update)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            tag = _desc(ev.get("Properties"))
            job_tag[jid] = tag
            job_start[jid] = ev["Submission Time"] / 1e3
            stats[tag]["jobs"] += 1
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                exec_tag.setdefault(str(exec_id), tag)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                stats[job_tag[jid]]["intervals"].append(
                    (job_start[jid], ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_tag[sid] = _desc(ev.get("Properties"))
            stats[stage_tag[sid]]["stages"].add(sid)
        elif kind == "SparkListenerTaskEnd":
            s = stats[stage_tag.get(ev["Stage ID"], UNTAGGED)]
            s["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for path, (key, scale) in TASK_METRICS.items():
                v = tm
                for p in path:
                    v = v.get(p) if isinstance(v, dict) else None
                s[key] += _num(v) * scale
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                hit = SQL_METRICS.get(acc.get("Name"))
                if hit:
                    s[hit[0]] += _num(acc.get("Update")) * hit[1]
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, acc_name)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, update in ev.get("accumUpdates", ()):
                driver_acc.append((str(ev["executionId"]), acc_id, _num(update)))
    # driver updates may precede the execution's first job: resolve at the end
    for exec_id, acc_id, update in driver_acc:
        hit = DRIVER_METRICS.get(acc_name.get(acc_id))
        if hit:
            stats[exec_tag.get(exec_id, UNTAGGED)][hit[0]] += update * hit[1]
    return dict(stats)


def app_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of one application, in write order: the single
    file ``<app_id>``, or the rolling ``eventlog_v2_<app_id>/events_<n>_*``
    parts Spark 4 writes by default."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    roll = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    parts = [f for f in os.listdir(roll) if re.match(r"events_\d+_", f)]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(roll, f) for f in parts]


def parse_app(log_dir: str, app_id: str) -> dict[str, dict]:
    files = [open(p, encoding="utf-8") for p in app_log_files(log_dir, app_id)]
    try:
        return parse_lines(itertools.chain.from_iterable(files))
    finally:
        for f in files:
            f.close()


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
