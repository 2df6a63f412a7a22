"""Spark event-log reader for the traced run.

Uses the stage logic of bench/analyze_eventlog.py: jobs carry their
`spark.jobGroup.id`, every stage is attributed to the group of the job that
ran it, and task metrics are summed per stage. On top of that it keeps each
stage's wall interval (for the part of a wave no stage covers) and the
Python-UDF SQL metrics Spark attaches to its Python evaluation nodes
(ArrowEvalPython, MapInPandas, ...), read from the plans logged with each
SQL execution.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# plan node names of Spark's Python evaluation operators
PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")


# SQL metric types → factor to seconds (timings) or 1 (sizes, counts)
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _walk_plan(node: dict, py_ids: dict[int, tuple[str, float]]) -> None:
    if any(m in node.get("nodeName", "") for m in PY_NODE_MARKERS):
        for m in node.get("metrics", []):
            py_ids[m["accumulatorId"]] = (m["name"], _SCALE.get(m.get("metricType"), 1.0))
    for child in node.get("children", []):
        _walk_plan(child, py_ids)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def latest_log(event_log_dir: str) -> str:
    entries = [os.path.join(event_log_dir, p) for p in os.listdir(event_log_dir)
               if not p.startswith(".")]
    return max(entries, key=os.path.getmtime)


def parse(path: str) -> tuple[dict, dict]:
    """(stages, jobs): per-stage records — group, submit/complete seconds
    (epoch), tasks, max task run seconds, executor CPU seconds, shuffle
    bytes and the Python-UDF metric totals keyed by metric name — and one
    (group, submit seconds) pair per job."""
    jobs: list[tuple[str, float]] = []
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    py_ids: dict[int, tuple[str, float]] = {}
    per_stage = defaultdict(lambda: {
        "tasks": 0, "max_task_s": 0.0, "cpu_s": 0.0,
        "shuffle_write_b": 0.0, "shuffle_read_b": 0.0,
        "py": defaultdict(float),
    })
    task_accums: list[tuple[int, list]] = []

    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id", "") or ""
                jobs.append((gid, ev.get("Submission Time", 0) / 1e3))
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = gid
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                if sub and comp:
                    stages[si["Stage ID"]] = {"start": sub / 1e3, "end": comp / 1e3}
            elif t == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                rec = per_stage[sid]
                run_s = tm.get("Executor Run Time", 0) / 1e3
                rec["tasks"] += 1
                rec["max_task_s"] = max(rec["max_task_s"], run_s)
                rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                task_accums.append(
                    (sid, (ev.get("Task Info") or {}).get("Accumulables", []))
                )
            elif t in ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                       "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    _walk_plan(plan, py_ids)

    # plans may be logged after the tasks that update their metrics (AQE
    # re-plans), so Python metrics are attributed once every plan is known
    for sid, accs in task_accums:
        for a in accs:
            hit = py_ids.get(a.get("ID"))
            if hit is not None:
                per_stage[sid]["py"][hit[0]] += _num(a.get("Update")) * hit[1]

    out = {}
    for sid, info in stages.items():
        rec = per_stage.get(sid)
        if rec is None:
            continue
        out[sid] = {**info, **rec, "group": stage_group.get(sid, "")}
    return out, jobs


def select(stages: dict, pred, window: tuple[float, float]) -> list[dict]:
    """Stages whose group satisfies `pred` and that started in `window`."""
    lo, hi = window
    return [s for s in stages.values() if pred(s["group"]) and lo <= s["start"] <= hi]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def py_metric(stages: list[dict], key: str) -> float:
    """Sum of one Python-UDF metric (by Spark's metric name; timings in
    seconds) over stages."""
    return sum(s["py"].get(key, 0.0) for s in stages)


PY_ROWS = "number of output rows"
PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"
