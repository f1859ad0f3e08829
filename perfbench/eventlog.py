"""Reader for Spark 4's JSON-lines event log (``eventlog_v2_*/events_*``).

Written with the standard library only: the log must be written with
``spark.eventLog.compress=false``. Everything is grouped by job description,
which the benchmark sets to the name of the open span, so task metrics, SQL
operator metrics, jobs and stages attribute to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
from collections import defaultdict

PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas", "BatchEvalPython")
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
# SQL metric types -> factor to seconds / bytes / counts
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in order."""
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    def __init__(self, events: list[dict]):
        self.acc = {}  # accumulator id -> (node key, node name, metric name, type)
        self.exec_desc: dict[int, str] = {}
        self.exec_start: dict[int, int] = {}
        self.exec_end: dict[int, int] = {}
        self.exec_plan: dict[int, str] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: list[int] = []
        self.tasks: list[dict] = []
        self.driver_accums: list[tuple[int, int, float]] = []  # (exec, acc, value)
        self.max_batch = 10000
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            handler = getattr(self, "_on_" + kind, None)
            if handler:
                handler(e)

    # --- event handlers -------------------------------------------------
    def _on_SparkListenerEnvironmentUpdate(self, e):
        props = e.get("Spark Properties", {})
        self.max_batch = int(props.get("spark.sql.execution.arrow.maxRecordsPerBatch", 10000))

    def _register_plan(self, plan: dict) -> None:
        for node in _walk(plan):
            metrics = node.get("metrics", [])
            if not metrics:
                continue
            key = metrics[0]["accumulatorId"]  # identifies this operator instance
            for m in metrics:
                self.acc[m["accumulatorId"]] = (key, node["nodeName"], m["name"], m["metricType"])

    def _on_SparkListenerSQLExecutionStart(self, e):
        x = e["executionId"]
        self.exec_desc[x] = e.get("description", "")
        self.exec_start[x] = e["time"]
        self.exec_plan[x] = e.get("physicalPlanDescription", "")
        self._register_plan(e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._register_plan(e["sparkPlanInfo"])

    def _on_SparkListenerSQLExecutionEnd(self, e):
        self.exec_end[e["executionId"]] = e["time"]

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e["accumUpdates"]:
            self.driver_accums.append((e["executionId"], acc_id, float(value)))

    def _on_SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        self.jobs[e["Job ID"]] = {
            "desc": props.get("spark.job.description"),
            "submit": e["Submission Time"],
        }
        for sid in e["Stage IDs"]:
            self.stage_job[sid] = e["Job ID"]

    def _on_SparkListenerStageCompleted(self, e):
        self.stages_done.append(e["Stage Info"]["Stage ID"])

    def _on_SparkListenerTaskEnd(self, e):
        accums = e["Task Info"].get("Accumulables", [])
        self.tasks.append(
            {
                "stage": e["Stage ID"],
                "m": e.get("Task Metrics") or {},
                "acc": [(a["ID"], a.get("Update")) for a in accums],
            }
        )

    # --- queries ----------------------------------------------------------
    def summarize(self, desc: str, since_ms: int = 0, until_ms: int | None = None) -> dict:
        """Totals over the jobs run under job description ``desc`` (and, when
        given, submitted in ``(since_ms, until_ms]``)."""

        def in_window(t):
            return t > since_ms and (until_ms is None or t <= until_ms)

        job_ids = {j for j, job in self.jobs.items() if job["desc"] == desc and in_window(job["submit"])}
        stage_ids = {s for s, j in self.stage_job.items() if j in job_ids}
        out = defaultdict(float)
        out["jobs"] = len(job_ids)
        out["stages"] = sum(1 for s in self.stages_done if s in stage_ids)
        operators: dict[str, set] = defaultdict(set)

        def add(acc_id, update) -> None:
            if acc_id not in self.acc or update is None:
                return
            key, node, metric, mtype = self.acc[acc_id]
            value = float(update) * _SCALE.get(mtype, 1.0)
            operators[node].add(key)
            if node in PYTHON_NODES and metric in PY_METRICS:
                out[PY_METRICS[metric]] += value
            elif node in PYTHON_NODES and metric == "number of output rows":
                # a Python node's tasks emit one row per input row (low-mode
                # mapInArrow, scalar pandas_udf), so this counts the Arrow
                # batches that crossed to Python
                out["batches"] += math.ceil(value / self.max_batch)
            elif metric == "time in aggregation build":
                out["agg_build_s"] += value
            elif metric in ("task commit time", "job commit time"):
                out["file_commit_s"] += value
            elif metric == "written output":
                out["bytes_written"] += value

        for t in self.tasks:
            if t["stage"] not in stage_ids:
                continue
            m = t["m"]
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            out["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc_id, update in t["acc"]:
                add(acc_id, update)
        execs = {x for x, d in self.exec_desc.items() if d == desc and in_window(self.exec_start[x])}
        for x, acc_id, value in self.driver_accums:
            if x in execs:
                add(acc_id, value)
        out["scans"] = sum(len(v) for k, v in operators.items() if k.startswith("Scan"))
        out["exchanges"] = sum(len(v) for k, v in operators.items() if k.endswith("Exchange"))
        return dict(out)

    def commits(self, desc: str, path_marker: str) -> list[tuple[int, int]]:
        """(start, end) in ms of the SQL executions under ``desc`` whose plan
        writes to a path containing ``path_marker``, in order."""
        out = []
        for x in sorted(self.exec_desc):
            plan = self.exec_plan.get(x, "")
            if self.exec_desc[x] == desc and "InsertIntoHadoopFsRelationCommand" in plan and re.search(
                re.escape(path_marker) + r"\b", plan
            ):
                out.append((self.exec_start[x], self.exec_end.get(x, self.exec_start[x])))
        return out
