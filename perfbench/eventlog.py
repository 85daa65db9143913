"""Spark event-log parser: per-job execution metrics, attributed to the
benchmark's step spans by job submission time.

Jobs are matched to the step whose [start, end] holds their submission
time, never by job group: the library submits some jobs from driver
thread pools, which do not inherit Spark local properties.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .tracer import union_length

_SQL = "org.apache.spark.sql.execution.ui."
MB = 1024.0 * 1024.0


@dataclass
class Job:
    job_id: int
    submit: float  # seconds since the epoch
    end: float = 0.0
    metrics: dict = field(default_factory=dict)
    stages: set = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    # SQL execution id -> (start seconds, written files)
    executions: dict = field(default_factory=dict)


def _task_metrics(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    om = tm.get("Output Metrics") or {}
    out = {
        "tasks": 1.0,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)) / MB,
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_mb": tm.get("Disk Bytes Spilled", 0) / MB,
        "output_mb": om.get("Bytes Written", 0) / MB,
        "failed_tasks": float(bool(info.get("Failed"))
                              or (ev.get("Task End Reason") or {}).get(
                                  "Reason", "Success") != "Success"),
        "python_run_s": 0.0,
        "worker_start_s": 0.0,
        "to_python_mb": 0.0,
    }
    for acc in info.get("Accumulables", ()):
        name, upd = acc.get("Name"), acc.get("Update")
        try:
            upd = float(upd)
        except (TypeError, ValueError):
            continue
        if name == "time to run Python workers":
            out["python_run_s"] += upd / 1e3
        elif name == "time to start Python workers":
            out["worker_start_s"] += upd / 1e3
        elif name == "data sent to Python workers":
            out["to_python_mb"] += upd / MB
    return out


def _plan_metric_ids(node: dict, name: str, acc: set) -> None:
    for m in node.get("metrics", ()):
        if m.get("name") == name:
            acc.add(m.get("accumulatorId"))
    for child in node.get("children", ()):
        _plan_metric_ids(child, name, acc)


def parse(path: str) -> EventLog:
    """Read one uncompressed, non-rolling JSON-lines event log."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    files_ids: dict[int, set] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                sids = tuple(ev.get("Stage IDs", ()))
                log.jobs[jid] = Job(jid, ev["Submission Time"] / 1e3)
                for sid in sids:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = log.jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job.stages.add(ev["Stage ID"])
                for k, v in _task_metrics(ev).items():
                    job.metrics[k] = job.metrics.get(k, 0.0) + v
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                eid = ev["executionId"]
                log.executions[eid] = [ev["time"] / 1e3, 0.0]
                ids = files_ids.setdefault(eid, set())
                _plan_metric_ids(ev.get("sparkPlanInfo", {}),
                                 "number of written files", ids)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metric_ids(ev.get("sparkPlanInfo", {}),
                                 "number of written files",
                                 files_ids.setdefault(ev["executionId"], set()))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                eid = ev["executionId"]
                ids = files_ids.get(eid, ())
                for acc_id, value in ev.get("accumUpdates", ()):
                    if acc_id in ids and eid in log.executions:
                        log.executions[eid][1] += float(value)
    return log


def find_log(directory: str) -> str:
    """The single finished application log in ``directory``."""
    names = [n for n in os.listdir(directory)
             if not n.endswith(".inprogress") and not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, "
                           f"found {names}")
    return os.path.join(directory, names[0])


JOB_KEYS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "fetch_wait_s", "spill_mb", "output_mb",
    "failed_tasks", "python_run_s", "worker_start_s", "to_python_mb",
)


def attribute(log: EventLog, steps: list[tuple[str, float, float]]) -> list[dict]:
    """Per step (name, start, end) in seconds since the epoch: the Spark
    execution metrics of the jobs submitted inside it. ``job_s`` is the
    wall during which at least one of those jobs ran, clipped to the
    step; ``task_wait_s`` is executor run time not spent on CPU."""
    out = []
    for _name, lo, hi in steps:
        jobs = [j for j in log.jobs.values() if lo <= j.submit <= hi]
        m = {k: 0.0 for k in JOB_KEYS}
        for j in jobs:
            for k in JOB_KEYS:
                m[k] += j.metrics.get(k, 0.0)
        m["jobs"] = float(len(jobs))
        m["stages"] = float(sum(len(j.stages) for j in jobs))
        m["job_s"] = union_length(
            [(j.submit, j.end if j.end else hi) for j in jobs], lo, hi)
        m["task_wait_s"] = m["executor_run_s"] - m["executor_cpu_s"]
        m["output_files"] = float(sum(
            files for start, files in log.executions.values()
            if lo <= start <= hi))
        out.append(m)
    return out
