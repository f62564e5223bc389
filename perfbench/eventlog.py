"""Stdlib parser for Spark's rolling event log.

Spark 4 writes one directory per application, ``eventlog_v2_<app>/``,
holding ``events_<n>_<app>`` files (uncompressed when
``spark.eventLog.compress=false``) that together form one JSON-lines
stream. This module reads that stream and keeps only what the
benchmark's per-layer breakdown needs: job spans with their streaming
query and SQL execution, per-task executor metrics and the SQL plan
accumulators the task updated, and the streaming progress events.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime

# SQL plan accumulators read per task; all are "timing" metrics, in ms
SQL_TIMINGS = {
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "time to commit changes": "state_commit_s",
    "time in aggregation build": "agg_build_s",
}


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    records_in: int
    shuffle_write_bytes: int
    sql_s: dict = field(default_factory=dict)


@dataclass
class Job:
    start_ms: int
    end_ms: int | None
    stages: list
    query: str | None
    execution: int | None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)        # job id -> Job
    tasks: list = field(default_factory=list)
    executions: dict = field(default_factory=dict)  # id -> plan text
    progress: list = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """The rolled files of every application under ``log_dir``, in
    writing order (by application directory, then file index)."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = []
        for path in glob.glob(os.path.join(app, "events_*")):
            m = re.match(r"events_(\d+)_", os.path.basename(path))
            if m:
                files.append((int(m.group(1)), path))
        out.extend(p for _, p in sorted(files))
    if not out:
        raise FileNotFoundError(f"no eventlog_v2_*/events_* under {log_dir}")
    return out


def _int(x) -> int:
    return int(x) if x not in (None, "") else 0


def _task(e: dict) -> Task:
    m = e.get("Task Metrics") or {}
    read = (m.get("Input Metrics") or {}).get("Records Read", 0) + \
        (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
    sql = {}
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = SQL_TIMINGS.get(acc.get("Name"))
        if key:
            sql[key] = sql.get(key, 0.0) + _int(acc.get("Update")) / 1e3
    return Task(stage=e["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                records_in=read,
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                sql_s=sql)


def parse(log_dir: str) -> EventLog:
    log = EventLog()
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    log.jobs[e["Job ID"]] = Job(
                        start_ms=e["Submission Time"], end_ms=None,
                        stages=e.get("Stage IDs", []),
                        query=props.get("sql.streaming.queryId"),
                        execution=int(ex) if ex else None)
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(e))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    log.executions[e["executionId"]] = \
                        e.get("physicalPlanDescription", "")
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    log.progress.append(e["progress"])
    return log


def progress_epoch_s(progress: dict) -> float:
    """A progress report's trigger start as epoch seconds."""
    ts = progress["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()

