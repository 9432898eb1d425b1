"""Per-layer counters read back from a Spark event log.

The traced run writes an uncompressed, unrolled event log.  Every job the
benchmark fires carries the job group ``<workload>:<query>:<build|exec>``;
jobs started on other threads (Structured Streaming micro-batches) carry
no group and are attributed to the phase whose time window holds their
submission time.  Stages and tasks follow the job that first submitted
them.  Nothing here adds a Spark job: the log is read after the session
has stopped.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"

#: SQL metric name (Spark 4.1 PythonSQLMetrics) -> layer counter
PYTHON_METRICS = {
    "time to run Python workers": "kernel.py_run_s",
    "time to start Python workers": "kernel.py_start_s",
    "data sent to Python workers": "kernel.bytes_to_py",
    "data returned from Python workers": "kernel.bytes_from_py",
}


@dataclass(frozen=True)
class Window:
    """One timed phase of one query in one pass, in epoch milliseconds."""

    pass_no: int
    query: str
    phase: str  # "build" or "exec"
    start_ms: float
    end_ms: float


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") in PYTHON_METRICS:
            out[m["accumulatorId"]] = (PYTHON_METRICS[m["name"]], m.get("metricType", ""))
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def _metric_value(update: float, metric_type: str) -> float:
    """SQL metric update in its reported unit: seconds for times."""
    if metric_type == "nsTiming":
        return update / 1e9
    if metric_type == "timing":
        return update / 1e3
    return update


def _task_counters(ev: dict, py_accums: dict[int, tuple[str, str]]) -> Counter:
    c: Counter = Counter()
    tm = ev.get("Task Metrics") or {}
    c["executor.run_s"] = tm.get("Executor Run Time", 0) / 1e3
    c["executor.cpu_s"] = tm.get("Executor CPU Time", 0) / 1e9
    c["executor.gc_s"] = tm.get("JVM GC Time", 0) / 1e3
    c["executor.failed_tasks"] = int(ev.get("Task End Reason", {}).get("Reason") != "Success")
    sr = tm.get("Shuffle Read Metrics") or {}
    c["shuffle.read_bytes"] = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle.fetch_wait_s"] = sr.get("Fetch Wait Time", 0) / 1e3
    c["shuffle.write_bytes"] = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["shuffle.spill_bytes"] = tm.get("Disk Bytes Spilled", 0)
    inp = tm.get("Input Metrics") or {}
    c["sources.scan_bytes"] = inp.get("Bytes Read", 0)
    c["sources.scan_rows"] = inp.get("Records Read", 0)
    out = tm.get("Output Metrics") or {}
    c["sources.write_bytes"] = out.get("Bytes Written", 0)
    c["sources.write_rows"] = out.get("Records Written", 0)
    c["driver.result_bytes"] = tm.get("Result Size", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        hit = py_accums.get(acc.get("ID"))
        if hit is not None and acc.get("Update") is not None:
            c[hit[0]] += _metric_value(float(acc["Update"]), hit[1])
    return c


class _Attributor:
    def __init__(self, workload: str, windows: list[Window]):
        self.prefix = workload + ":"
        self.windows = sorted(windows, key=lambda w: w.start_ms)

    def by_time(self, t_ms: float) -> Window | None:
        for w in self.windows:
            if w.start_ms <= t_ms <= w.end_ms:
                return w
        return None

    def job(self, group: str | None, submit_ms: float) -> Window | None:
        """The window a job belongs to: its group names query and phase,
        its submission time names the pass; jobs without one of our groups
        (a streaming query tags its micro-batches with its run id) go by
        time."""
        w = self.by_time(submit_ms)
        if not group or not group.startswith(self.prefix):
            return w
        query, _, phase = group[len(self.prefix):].rpartition(":")
        if w is not None and (w.query, w.phase) == (query, phase):
            return w
        # a tagged job outside its own window (clock skew at an edge):
        # the latest window of that query and phase that began before it
        cands = [x for x in self.windows if (x.query, x.phase) == (query, phase) and x.start_ms <= submit_ms]
        return cands[-1] if cands else None


def read_event_log(path: Path, workload: str, windows: list[Window]) -> dict[tuple[int, str, str], Counter]:
    """Counters per (pass, query, phase) from the event log at ``path``.

    Keys per phase: ``jobs``, ``stages``, ``tasks`` and every task or SQL
    metric counter named in this module.
    """
    attr = _Attributor(workload, windows)
    py_accums: dict[int, tuple[str, str]] = {}
    stage_key: dict[int, tuple[int, str, str]] = {}
    out: dict[tuple[int, str, str], Counter] = defaultdict(Counter)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                w = attr.job(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
                if w is None:
                    continue
                key = (w.pass_no, w.query, w.phase)
                out[key]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_key.setdefault(sid, key)
            elif kind == "SparkListenerStageSubmitted":
                key = stage_key.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    out[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                if key is not None:
                    out[key]["tasks"] += 1
                    out[key].update(_task_counters(ev, py_accums))
            elif kind in (SQL_START, SQL_AQE_UPDATE):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, py_accums)
            elif kind == SQL_AQE_METRICS:
                _plan_metrics({"metrics": ev.get("sqlPlanMetrics", ())}, py_accums)
    return out
