"""Spark's own accounting, read from the uncompressed event log.

Every job carries the job group the benchmark set for the op that ran
it, so task metrics roll up stage -> job -> op. Python-evaluation SQL
metrics are found through the plan infos of the SQL executions: only
accumulators that belong to a Python/Arrow/pandas evaluation node count
as UDF work.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _walk(node: dict, out: dict[int, tuple[str, str]]) -> None:
    if any(m in node.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for c in node.get("children", []):
        _walk(c, out)


def new_group() -> dict:
    return {"jobs": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "tasks": 0,
            "stage_runs": {}, "shuffle_write": 0, "shuffle_read": 0,
            "fetch_wait_ms": 0, "spill_disk": 0, "udf_rows": 0,
            "udf_bytes": 0, "udf_s": 0.0}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (epoch s) and summed task metrics."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True))
    files += [f for f in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(f)]
    py_accums: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    groups: dict[str, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "(none)"
                    job_group[ev["Job ID"]] = g
                    job_submit[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups.setdefault(job_group[jid], new_group())[
                            "jobs"].append((job_submit[jid],
                                            ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif "sparkPlanInfo" in ev:
                    _walk(ev["sparkPlanInfo"], py_accums)
    for ev in tasks:
        g = groups.setdefault(stage_group.get(ev["Stage ID"], "(none)"),
                              new_group())
        m = ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        g["tasks"] += 1
        g["run_ms"] += run_ms
        g["cpu_ns"] += m.get("Executor CPU Time", 0)
        g["gc_ms"] += m.get("JVM GC Time", 0)
        g["spill_disk"] += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
        g["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        g["stage_runs"].setdefault(ev["Stage ID"], []).append(run_ms)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name_type = py_accums.get(acc.get("ID"))
            if name_type is None:
                continue
            name, mtype = name_type
            upd = int(acc.get("Update") or 0)
            if name == "number of output rows":
                g["udf_rows"] += upd
            elif name.startswith("data "):
                g["udf_bytes"] += upd
            elif name == "time to run Python workers":
                g["udf_s"] += upd / (1e9 if mtype == "nsTiming" else 1e3)
    return groups


def task_skew(stage_runs: dict[int, list[int]], min_tasks: int) -> float:
    """max/median task run time of the worst stage with at least
    ``min_tasks`` tasks (1.0 when no stage qualifies)."""
    worst = 1.0
    for runs in stage_runs.values():
        if len(runs) >= min_tasks:
            med = statistics.median(runs)
            if med > 0:
                worst = max(worst, max(runs) / med)
    return worst
