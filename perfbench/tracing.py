"""Spans around the benchmark's calls into each layer, and the Spark
event-log reader that gives the boundary metrics of a traced run.

A ``Tracer`` that is off hands out one shared no-op context and keeps
nothing, so an untraced run records no span.  Spans (name, start, end,
parent span, pass id and phase) live in memory and are written out with
the run record when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_OFF = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and (phase is None or s.get("phase") == phase)]


def event_log_conf(log_dir: str) -> dict:
    """Spark conf for one uncompressed, unrolled JSON event log."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


# SQL metric names of the Python exec nodes (PythonSQLMetrics)
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_TIME = "time to run Python workers"          # ms
_SCAN_SIZE = "size of files read"                # driver-side, bytes


def parse_event_log(lines, group: str) -> dict:
    """Sum Spark's own task and SQL metrics over the jobs and SQL
    executions of job group ``group`` (set with ``setJobGroup(group,
    group)``, so SQL executions carry it as their description).

    Returns raw totals: scan/python/shuffle bytes, executor CPU ns,
    GC ms, Python worker ms, and the task count.
    """
    stages: set[int] = set()
    execs: set[int] = set()
    metric_name: dict[int, str] = {}
    tot: dict[str, float] = defaultdict(float)

    def plan_metrics(node):
        for m in node.get("metrics", []):
            metric_name[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            plan_metrics(child)

    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if e.get("Properties", {}).get("spark.jobGroup.id") == group:
                stages.update(e["Stage IDs"])
        elif ev.endswith("SQLExecutionStart"):
            if e.get("description") == group:
                execs.add(e["executionId"])
                plan_metrics(e.get("sparkPlanInfo", {}))
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in execs:
                plan_metrics(e.get("sparkPlanInfo", {}))
        elif ev.endswith("DriverAccumUpdates"):
            if e["executionId"] in execs:
                for acc_id, val in e["accumUpdates"]:
                    if metric_name.get(acc_id) == _SCAN_SIZE:
                        tot["scan_bytes"] += val
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            tm = e.get("Task Metrics") or {}
            tot["tasks"] += 1
            tot["cpu_ns"] += tm.get("Executor CPU Time", 0)
            tot["gc_ms"] += tm.get("JVM GC Time", 0)
            tot["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics", {})
                                           .get("Shuffle Bytes Written", 0))
            for acc in e["Task Info"].get("Accumulables", []):
                key = {_PY_SENT: "to_python_bytes", _PY_RECV: "from_python_bytes",
                       _PY_TIME: "python_ms"}.get(acc.get("Name"))
                if key:
                    tot[key] += float(acc.get("Update", 0))
    return dict(tot)


def spark_layer_metrics(tot: dict, passes: int) -> dict:
    """Per-pass boundary metrics (MB and s) from ``parse_event_log``."""
    p = max(passes, 1)
    mb = 1e6 * p
    return {
        "spark.scan_mb": tot.get("scan_bytes", 0.0) / mb,
        "spark.to_python_mb": tot.get("to_python_bytes", 0.0) / mb,
        "spark.from_python_mb": tot.get("from_python_bytes", 0.0) / mb,
        "spark.python_s": tot.get("python_ms", 0.0) / 1e3 / p,
        "spark.task_cpu_s": tot.get("cpu_ns", 0.0) / 1e9 / p,
        "spark.gc_s": tot.get("gc_ms", 0.0) / 1e3 / p,
        "spark.shuffle_write_mb": tot.get("shuffle_write_bytes", 0.0) / mb,
    }
