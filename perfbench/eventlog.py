"""Offline reader for a Spark event log (``spark.eventLog.enabled``).

Jobs are attributed to the job group that was set around each call
(``SparkContext.setJobGroup``); task metrics roll up from task to stage
to job to group. SQL metrics of one plan node (for example the Python
metrics of ``MapInPandas``) are found by walking each SQL execution's
plan info, including adaptive re-plans, and summing the task updates of
the node's accumulators.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

# root node of a DataFrameWriter file write's SQL execution
WRITE_ROOT = "Execute InsertInto"


def _walk(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _walk(c)


class EventLog:
    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.sql_root: dict[int, str] = {}
        # execution id -> node name -> {metric name: (accumulator id, type)}
        self.sql_nodes: dict[int, dict[str, dict[str, tuple[int, str]]]] = defaultdict(dict)
        self.task_metrics: dict[int, list[dict]] = defaultdict(list)
        self.accum: dict[int, float] = defaultdict(float)
        # a rolling log (the default in Spark 4) is a directory of
        # events_<n>_<app> files
        parts = sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1])) if path.is_dir() else [path]
        for part in parts:
            with open(part) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(exec_id) if exec_id is not None else None,
                "start_ms": ev["Submission Time"],
                "end_ms": None,
            }
            for s in ev["Stage IDs"]:
                self.stage_job[s] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if tm is not None:
                self.task_metrics[ev["Stage ID"]].append(tm)
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.accum[acc["ID"]] += float(upd)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_root[ev["executionId"]] = ev["sparkPlanInfo"]["nodeName"]
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] += float(value)

    def _plan(self, exec_id: int, info: dict) -> None:
        for node in _walk(info):
            metrics = self.sql_nodes[exec_id].setdefault(node["nodeName"], {})
            for m in node.get("metrics", []):
                metrics[m["name"]] = (m["accumulatorId"], m["metricType"])

    # ---- queries ---------------------------------------------------------

    def group_jobs(self, group: str) -> list[int]:
        return [j for j, v in self.jobs.items() if v["group"] == group]

    def is_write(self, job: int) -> bool:
        root = self.sql_root.get(self.jobs[job]["exec"], "")
        return root.startswith(WRITE_ROOT)

    def job_seconds(self, jobs: list[int]) -> float:
        return sum((self.jobs[j]["end_ms"] - self.jobs[j]["start_ms"]) / 1000.0 for j in jobs)

    def task_totals(self, group: str) -> dict[str, float]:
        """Summed task metrics of every stage that ran for `group`'s jobs."""
        jobs = set(self.group_jobs(group))
        out = defaultdict(float)
        for stage, job in self.stage_job.items():
            if job not in jobs:
                continue
            for tm in self.task_metrics.get(stage, []):
                out["cpu_s"] += (tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)) / 1e9
                out["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                out["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        return dict(out)

    def node_metrics(self, group: str, node_prefix: str) -> dict[str, float] | None:
        """SQL metrics summed over every plan node named `node_prefix*` in
        the group's executions; nanosecond/millisecond timings become
        seconds. None when no such node ran."""
        execs = {self.jobs[j]["exec"] for j in self.group_jobs(group)} - {None}
        accs: dict[int, tuple[str, str]] = {}
        for e in execs:
            for name, metrics in self.sql_nodes.get(e, {}).items():
                if name.startswith(node_prefix):
                    accs.update({acc: (mname, mtype) for mname, (acc, mtype) in metrics.items()})
        if not accs:
            return None
        found: dict[str, float] = defaultdict(float)
        for acc_id, (mname, mtype) in accs.items():
            scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(mtype, 1.0)
            found[mname] += self.accum.get(acc_id, 0.0) * scale
        return dict(found)
