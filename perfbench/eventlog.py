"""Read a Spark event log (uncompressed JSON lines) into per-job, per-stage
and per-SQL-execution records, and sum task and SQL metrics over a chosen
set of jobs.

Jobs are chosen by the caller: by submission time (the benchmark's closed
loop runs one call at a time, so a job belongs to the call whose span holds
its submission) and, inside ``collect_report``, whose three queries run
concurrently, by the shape of the SQL execution's physical plan.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# text that appears in a plan node that evaluates the violations array:
# the alias when it survives optimisation, else the array's filter HOF
_PROJECTION_MARKERS = ("_violations", "filter(array(")
_STAGE_BOUNDARIES = ("Exchange", "ShuffleQueryStage", "BroadcastQueryStage",
                     "TableCacheQueryStage")


@dataclass
class Stage:
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    peak_exec_mem: int = 0
    accums: dict = field(default_factory=dict)      # id -> (name, value)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list
    execution_id: int | None
    end_ms: int | None = None


@dataclass
class Execution:
    description: str = ""
    plan: dict | None = None         # latest sparkPlanInfo (AQE updates it)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    executions: dict = field(default_factory=dict)


def find(event_dir: str) -> list[str]:
    """Event-log files under ``event_dir`` (v1 single files or v2 rolling
    directories), oldest first."""
    files = glob.glob(os.path.join(event_dir, "*", "events_*")) + [
        p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    return sorted(files, key=os.path.getmtime)


def parse(paths: list[str]) -> EventLog:
    log = EventLog()
    for path in paths:
        with open(path) as f:
            for line in f:
                _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
        log.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"],
                                     ev["Stage IDs"],
                                     int(eid) if eid is not None else None)
    elif kind == "SparkListenerJobEnd":
        log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics")
        if not m:
            return
        st = log.stages.setdefault(ev["Stage ID"], Stage())
        st.tasks += 1
        st.cpu_ns += m["Executor CPU Time"] + m["Executor Deserialize CPU Time"]
        st.gc_ms += m["JVM GC Time"]
        st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        st.peak_exec_mem = max(st.peak_exec_mem, m["Peak Execution Memory"])
        st.input_bytes += m["Input Metrics"]["Bytes Read"]
        st.input_records += m["Input Metrics"]["Records Read"]
        w = m["Shuffle Write Metrics"]
        st.shuffle_write_bytes += w["Shuffle Bytes Written"]
        st.shuffle_write_ns += w["Shuffle Write Time"]
        st.fetch_wait_ms += m["Shuffle Read Metrics"]["Fetch Wait Time"]
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = log.stages.setdefault(info["Stage ID"], Stage())
        for a in info.get("Accumulables", []):
            if not a["Name"].startswith("internal."):
                st.accums[a["ID"]] = (a["Name"], float(a["Value"]))
    elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                  _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        ex = log.executions.setdefault(int(ev["executionId"]), Execution())
        ex.description = ev.get("physicalPlanDescription") or ex.description
        ex.plan = ev["sparkPlanInfo"]


# ---------------------------------------------------------------------------
# plan helpers
# ---------------------------------------------------------------------------

def _nodes(plan: dict):
    todo = [plan]
    while todo:
        n = todo.pop()
        yield n
        todo.extend(n.get("children", []))


def _metric_ids(node: dict, name: str | None = None) -> set:
    return {m["accumulatorId"] for m in node.get("metrics", [])
            if name is None or m["name"] == name}


def _stage_local_ids(node: dict) -> set:
    """Metric ids of ``node`` or, if it has none (a Project outside
    whole-stage codegen), of the nearest metric-bearing nodes below it
    within the same stage."""
    ids, todo = set(), [node]
    while todo:
        n = todo.pop()
        if n["nodeName"] in _STAGE_BOUNDARIES:
            continue
        own = _metric_ids(n)
        if own:
            ids |= own
        else:
            todo.extend(n.get("children", []))
    return ids


def projection_ids(log: EventLog, execution_ids) -> set:
    ids = set()
    for eid in execution_ids:
        ex = log.executions.get(eid)
        if ex is None or ex.plan is None:
            continue
        for n in _nodes(ex.plan):
            if any(m in n["simpleString"] for m in _PROJECTION_MARKERS):
                ids |= _stage_local_ids(n)
    return ids


def python_row_ids(log: EventLog, execution_ids) -> set:
    ids = set()
    for eid in execution_ids:
        ex = log.executions.get(eid)
        if ex is not None and ex.plan is not None:
            for n in _nodes(ex.plan):
                if "EvalPython" in n["nodeName"]:
                    ids |= _metric_ids(n, "number of output rows")
    return ids


def verdict_query(log: EventLog, job: Job) -> str:
    """Which ``build_report_queries`` query a job belongs to."""
    ex = log.executions.get(job.execution_id)
    text = ex.description if ex else ""
    if "Generate" in text:
        return "agg2"
    if "BroadcastHashJoin" in text or "BroadcastExchange" in text:
        return "agg1"
    return "dup"


# ---------------------------------------------------------------------------
# sums over a set of jobs
# ---------------------------------------------------------------------------

def stages_of(log: EventLog, jobs) -> list[Stage]:
    ids = sorted({s for j in jobs for s in j.stage_ids})
    return [log.stages[s] for s in ids if s in log.stages]


def span_s(jobs) -> float:
    jobs = [j for j in jobs if j.end_ms is not None]
    if not jobs:
        return 0.0
    return (max(j.end_ms for j in jobs) - min(j.submit_ms for j in jobs)) / 1e3


def cpu_s(stages) -> float:
    return sum(s.cpu_ns for s in stages) / 1e9


def accum_sum(stages, name: str | None = None, ids: set | None = None) -> float:
    return sum(v for s in stages for i, (n, v) in s.accums.items()
               if (name is None or n == name) and (ids is None or i in ids))


def totals(log: EventLog, jobs) -> dict:
    """Task and SQL metric totals over ``jobs``."""
    stages = stages_of(log, jobs)
    execs = {j.execution_id for j in jobs if j.execution_id is not None}
    proj = projection_ids(log, execs)
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in stages if s.tasks),
        "tasks": sum(s.tasks for s in stages),
        "cpu_s": cpu_s(stages),
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "peak_exec_mem": max((s.peak_exec_mem for s in stages), default=0),
        "input_bytes": sum(s.input_bytes for s in stages),
        "input_records": sum(s.input_records for s in stages),
        "scan_time_s": accum_sum(stages, "scan time") / 1e3,
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "shuffle_write_s": sum(s.shuffle_write_ns for s in stages) / 1e9,
        "fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1e3,
        "projection_cpu_s": cpu_s([s for s in stages
                                   if proj & set(s.accums)]),
        "python_rows": accum_sum(stages, ids=python_row_ids(log, execs)),
        "python_bytes_out": accum_sum(stages, "data sent to Python workers"),
        "python_bytes_in": accum_sum(stages,
                                     "data returned from Python workers"),
    }
