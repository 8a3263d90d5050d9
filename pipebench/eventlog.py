"""Parser for Spark's JSON event log (``spark.eventLog.enabled``).

The log is one JSON object per line. The traced run reads it after the
session stops and attributes jobs, stages, tasks and SQL executions to
the op whose wall-clock window contains their submission time; ops run
one after another, so the windows do not overlap.
"""

from __future__ import annotations

import json

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_NODE = "ArrowEvalPython"


def read_events(path: str) -> list[dict]:
    """Every complete event in the log; a torn last line is dropped."""
    events = []
    with open(path) as f:
        for line in f:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _accumulator_totals(events: list[dict]) -> dict[int, int]:
    """Accumulator id -> sum of its task updates (SQL metrics included)."""
    totals: dict[int, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        for acc in e.get("Task Info", {}).get("Accumulables", []):
            try:
                upd = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            totals[acc["ID"]] = totals.get(acc["ID"], 0) + upd
    return totals


class EventLog:
    """Indexes one application's events for per-op queries."""

    def __init__(self, events: list[dict]):
        self.jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
        self.completed_stages = {
            e["Stage Info"]["Stage ID"]
            for e in events
            if e["Event"] == "SparkListenerStageCompleted"
        }
        self.task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
        # the last plan Spark reported for each SQL execution is the one
        # that ran (adaptive execution re-plans query stages)
        self.final_plan: dict[int, dict] = {}
        self.sql_start: dict[int, int] = {}
        for e in events:
            if e["Event"] == _SQL_START:
                self.sql_start[e["executionId"]] = e["time"]
                self.final_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif e["Event"] == _SQL_AQE:
                self.final_plan[e["executionId"]] = e["sparkPlanInfo"]
        self.acc = _accumulator_totals(events)

    def op_metrics(self, t0_ms: float, t1_ms: float) -> dict:
        """Engine and Python-boundary counters of the op run in
        ``[t0_ms, t1_ms]`` (epoch milliseconds)."""
        jobs = [j for j in self.jobs if t0_ms <= j["Submission Time"] <= t1_ms]
        stage_ids = {s for j in jobs for s in j["Stage IDs"]}
        tasks = [t for t in self.task_ends if t["Stage ID"] in stage_ids]
        tm = [t.get("Task Metrics") or {} for t in tasks]

        py_nodes: dict[int, dict] = {}  # keyed by the node's row counter
        for ex, start in self.sql_start.items():
            if not t0_ms <= start <= t1_ms:
                continue
            for node in _plan_nodes(self.final_plan[ex]):
                if node["nodeName"] != PY_NODE:
                    continue
                ids = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                py_nodes[ids["number of output rows"]] = ids
        executed = [
            ids for key, ids in py_nodes.items() if self.acc.get(key, 0) > 0
        ]
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids & self.completed_stages),
            "tasks": len(tasks),
            "task_cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
            "task_run_s": sum(m.get("Executor Run Time", 0) for m in tm) / 1e3,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
            "spill_mb": sum(
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for m in tm
            ) / 1e6,
            "shuffle_write_mb": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in tm
            ) / 1e6,
            "udf_nodes": len(executed),
            "py_rows": sum(self.acc.get(ids["number of output rows"], 0) for ids in executed),
            "py_bytes_sent": sum(
                self.acc.get(ids["data sent to Python workers"], 0) for ids in executed
            ),
        }
