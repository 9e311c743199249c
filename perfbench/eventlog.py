"""Spark event-log parser: jobs, stages, task totals and SQL executions.

Reads the JSON-lines log Spark writes when `spark.eventLog.enabled` is
set.  A rolling log is a directory of `events_<n>_<appId>` segments; they
are read in numeric order, because `events_10` sorts before `events_2`
as text and stage updates would then apply out of order.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# SQL metrics of the Arrow/pandas Python nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...), read from stage accumulables
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

# SQL-execution events, and the scan node's driver-side metric that
# counts files left after partition pruning
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
FILES_READ = "number of files read"


@dataclass
class Stage:
    stage_id: int
    attempt: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None = None
    description: str = ""
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class SqlExecution:
    exec_id: int
    start_ms: int
    description: str = ""
    # accumulator id -> SQL metric name, from the plan and every AQE re-plan
    metric_names: dict[int, str] = field(default_factory=dict)
    # accumulator id -> value the Spark driver posted (scan file counts and sizes)
    driver_values: dict[int, int] = field(default_factory=dict)

    def driver_metric(self, name: str) -> int:
        return sum(v for a, v in self.driver_values.items() if self.metric_names.get(a) == name)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # (stage id, attempt) -> Stage; a stage that ran twice has two entries
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    sql: dict[int, SqlExecution] = field(default_factory=dict)

    def job_stages(self, job: Job) -> list[Stage]:
        ids = set(job.stage_ids)
        return [s for (sid, _), s in self.stages.items() if sid in ids]


def _segment_key(p: Path) -> tuple[int, str]:
    parts = p.name.split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0, p.name)


def log_lines(path: str | Path) -> list[str]:
    """Lines of one application's log: a single file, or a rolling-log
    directory whose segments are concatenated in numeric order."""
    p = Path(path)
    if p.is_dir():
        segs = sorted((f for f in p.iterdir() if f.name.startswith("events_")), key=_segment_key)
        return [ln for f in segs for ln in f.read_text().splitlines()]
    return p.read_text().splitlines()


def _stage_for(log: EventLog, sid: int, attempt: int) -> Stage:
    return log.stages.setdefault((sid, attempt), Stage(sid, attempt))


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metrics(c, out)


def parse(lines: list[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                ev["Submission Time"],
                description=props.get("spark.job.description") or "",
                stage_ids=list(ev.get("Stage IDs") or [s["Stage ID"] for s in ev.get("Stage Infos", [])]),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = _stage_for(log, ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                st.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = _stage_for(log, info["Stage ID"], info.get("Stage Attempt ID", 0))
            st.tasks = info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name, value = acc.get("Name"), acc.get("Value")
                if name in (PY_SENT, PY_RETURNED):
                    try:
                        n = int(value)
                    except (TypeError, ValueError):
                        n = 0
                    if name == PY_SENT:
                        st.py_sent_bytes += n
                    else:
                        st.py_returned_bytes += n
        elif kind == SQL_START:
            ex = log.sql[ev["executionId"]] = SqlExecution(
                ev["executionId"], ev["time"], description=ev.get("description") or "")
            _plan_metrics(ev.get("sparkPlanInfo") or {}, ex.metric_names)
        elif kind == SQL_AQE_UPDATE and ev["executionId"] in log.sql:
            _plan_metrics(ev.get("sparkPlanInfo") or {}, log.sql[ev["executionId"]].metric_names)
        elif kind == SQL_DRIVER_ACCUMS and ev["executionId"] in log.sql:
            # a driver metric is posted as its value, not as an increment
            log.sql[ev["executionId"]].driver_values.update(
                {int(a): int(v) for a, v in ev.get("accumUpdates", [])})
    return log


def load(path: str | Path) -> EventLog:
    return parse(log_lines(path))
