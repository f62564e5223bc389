"""Per-layer breakdown of a traced run, attributed from outside the program.

Sources: the parsed Spark event log (job spans, task metrics, SQL plan
accumulators, progress events), the ``StreamingQueryProgress`` of each
query ``start_speed_layer`` returned, and the file sizes of sink outputs.
Layer names are module names. Every metric is reported on every
workload; a layer the workload bypasses reads zero, which confirms the
bypass.
"""

from __future__ import annotations

from .eventlog import EventLog, progress_epoch_s
from .stats import clip, median, union_length

LAYERS = {
    "streaming.stateful": ("busy_s", "cpu_s", "tasks", "useful_task_ratio",
                           "python_init_s", "python_run_s", "state_rows",
                           "state_commit_s"),
    "streaming.windowed": ("busy_s", "cpu_s", "tasks", "useful_task_ratio",
                           "shuffle_bytes", "state_rows", "state_bytes",
                           "state_commit_s", "late_rows_dropped"),
    "streaming.enrich": ("busy_s", "cpu_s", "tasks", "python_init_s",
                         "python_run_s"),
    "streaming.sinks": ("busy_s", "cpu_s", "tasks", "bytes_written"),
    "streaming.replay": ("offsets_s", "rows_in"),
    "jobs.speed_layer": ("plan_s", "commit_s", "driver_s"),
    "jobs.batch_job": ("tick_p50_s", "busy_s", "plan_s", "cpu_s", "run_s",
                       "jobs", "stages", "tasks", "useful_task_ratio",
                       "driver_s"),
    "operators.windowed_join": ("agg_build_s", "shuffle_bytes"),
    "sinks.raw_batch_tweets": ("files_written", "bytes_written"),
    "sinks.raw_batch_prices": ("files_written", "bytes_written"),
    "sinks.batch_prices_with_tweets": ("files_written", "bytes_written"),
    "jobs.curate": ("cpu_s", "run_s", "gc_s", "jobs", "stages", "tasks",
                    "shuffle_bytes", "python_init_s", "python_run_s",
                    "driver_s", "kept"),
    "session": ("peak_rss_mb",),
    "host": ("probe_s",),
}


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "bytes"
    return "ratio" if metric.endswith("ratio") else "count"


# metric name -> unit, in the order BENCHMARK.json lists them
METRICS = {f"{layer}.{m}": _unit(m)
           for layer, names in LAYERS.items() for m in names}

# start_speed_layer's returned queries, in order, and the layer of each
SPEED_QUERY_LAYERS = ("streaming.sinks", "streaming.sinks",
                      "streaming.enrich", "streaming.stateful",
                      "streaming.windowed")


def summary(log: EventLog, jobs: list) -> dict:
    """Work done by a set of jobs: busy time (union of job spans), executor
    time, counts, useful-task ratio, shuffle bytes and SQL timings."""
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    spans = [(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.end_ms]
    out = {
        "busy_s": union_length(spans),
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "run_s": sum(t.run_ms for t in tasks) / 1e3,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "jobs": len(jobs),
        "stages": len({t.stage for t in tasks}),
        "tasks": len(tasks),
        "useful_task_ratio": (sum(t.records_in > 0 for t in tasks)
                              / len(tasks) if tasks else 0.0),
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
    }
    for key in ("python_init_s", "python_run_s", "state_commit_s",
                "agg_build_s"):
        out[key] = sum(t.sql_s.get(key, 0.0) for t in tasks)
    return out


def driver_s(log: EventLog, windows: list) -> float:
    """Wall time of the units minus the part any Spark job covered."""
    spans = [(j.start_ms / 1e3, j.end_ms / 1e3)
             for j in log.jobs.values() if j.end_ms]
    return sum((hi - lo) - union_length(clip(spans, (lo, hi)))
               for lo, hi in windows)


def jobs_in(log: EventLog, windows: list) -> list:
    return [j for j in log.jobs.values()
            if any(lo <= j.start_ms / 1e3 <= hi for lo, hi in windows)]


def _put(m: dict, layer: str, values: dict) -> None:
    for k, v in values.items():
        name = f"{layer}.{k}"
        if name in METRICS:
            m[name] = v


def _progress_totals(progress: list) -> dict:
    d = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3
    return {
        "offsets_s": sum(d(p, "latestOffset") + d(p, "getBatch")
                         for p in progress),
        "rows_in": sum(s.get("numInputRows", 0) for p in progress
                       for s in p.get("sources", [])),
        "plan_s": sum(d(p, "queryPlanning") for p in progress),
        "commit_s": sum(d(p, "walCommit") + d(p, "commitOffsets")
                        for p in progress),
    }


def _state(progress: list) -> dict:
    ops = lambda p: p.get("stateOperators", [])
    last = progress[-1] if progress else {}
    return {
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops(last)),
        "state_bytes": max((sum(o.get("memoryUsedBytes", 0) for o in ops(p))
                            for p in progress), default=0),
        "late_rows_dropped": sum(o.get("numRowsDroppedByWatermark", 0)
                                 for p in progress for o in ops(p)),
    }


def per_layer(log: EventLog, result, peak_rss_mb: float,
              probe_s: float) -> dict:
    m = dict.fromkeys(METRICS, 0)
    windows = result.windows
    if result.workload == "speed_backlog":
        # one drain per entry: its query IDs and progress, in the order
        # start_speed_layer returned the queries
        by_layer: dict = {}
        for ids, progress in result.drains:
            for qid, ps, layer in zip(ids, progress, SPEED_QUERY_LAYERS):
                qids, pooled = by_layer.setdefault(layer, (set(), []))
                qids.add(qid)
                pooled.extend(ps)
        for layer, (qids, _) in by_layer.items():
            _put(m, layer, summary(
                log, [j for j in log.jobs.values() if j.query in qids]))
        state = _state(by_layer["streaming.stateful"][1])
        m["streaming.stateful.state_rows"] = state["state_rows"]
        _put(m, "streaming.windowed",
             _state(by_layer["streaming.windowed"][1]))
        m["streaming.sinks.bytes_written"] = result.capture_bytes
        allp = [p for _, ps in by_layer.values() for p in ps]
        _put(m, "streaming.replay", _progress_totals(allp))
        _put(m, "jobs.speed_layer", _progress_totals(allp))
        m["jobs.speed_layer.driver_s"] = driver_s(log, windows)
    elif result.workload == "curate_funnel":
        _put(m, "jobs.curate", summary(log, jobs_in(log, windows)))
        m["jobs.curate.driver_s"] = driver_s(log, windows)
        m["jobs.curate.kept"] = result.stats["n_kept"]
        ticks = result.tick_windows
        jobs = jobs_in(log, ticks)
        progress = [p for p in log.progress
                    if any(lo <= progress_epoch_s(p) <= hi for lo, hi in ticks)]
        totals = _progress_totals(progress)
        _put(m, "jobs.batch_job", summary(log, jobs))
        m["jobs.batch_job.tick_p50_s"] = median(result.tick_samples)
        m["jobs.batch_job.plan_s"] = totals["plan_s"]
        m["jobs.batch_job.driver_s"] = driver_s(log, ticks)
        _put(m, "streaming.replay", totals)
        warehouse = {ex for ex, plan in log.executions.items()
                     if "batch_prices_with_tweets" in plan}
        _put(m, "operators.windowed_join",
             summary(log, [j for j in jobs if j.execution in warehouse]))
        for sink, (files, size) in result.sink_files.items():
            m[f"sinks.{sink}.files_written"] = files
            m[f"sinks.{sink}.bytes_written"] = size
    m["session.peak_rss_mb"] = peak_rss_mb
    m["host.probe_s"] = probe_s
    return m
