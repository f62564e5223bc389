"""The workloads. Each is a closed loop: one caller starts a unit of
work through the package's public entry point, waits for it to finish,
checks its output against the reference, and starts the next until the
run's seconds are spent (at least one timed unit always runs).

* ``speed_backlog`` — a unit is one drain of the seeded backlog by the five
  queries ``jobs.speed_layer.start_speed_layer`` returns; the samples are
  the micro-batches' ``triggerExecution`` times, pooled over the queries.
* ``curate_funnel`` — a unit is one ``jobs.curate.run_curation`` over a
  fresh copy of the corpus (the session caches key on its path, so no
  unit reuses another's work); the first unit also pays the JVM's cold
  start. A traced run then drives ``BATCH_TICKS`` cron ticks of
  ``jobs.batch_job.run_batch`` on one checkpoint, each over a new seeded
  events drop, and checks what each tick wrote. The ticks give the batch
  layer's per-layer breakdown and no end-to-end metric, so untraced runs
  skip them: neither a third workload nor ticks in every run fit the
  benchmark's time budget.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from . import gen, reference


@dataclass
class Result:
    workload: str
    rows: int = 0                 # input rows (documents) of timed units
    wall_s: float = 0.0           # summed wall time of timed units
    samples: list = field(default_factory=list)   # unit-of-work seconds
    windows: list = field(default_factory=list)   # epoch spans, timed units
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    drains: list = field(default_factory=list)  # (query ids, progress)
    capture_bytes: int = 0
    sink_files: dict = field(default_factory=dict)
    tick_samples: list = field(default_factory=list)  # run_batch seconds
    tick_windows: list = field(default_factory=list)
    stats: dict | None = None     # curate: the last funnel stats

    def record(self, checks: list) -> None:
        self.attempted += 1
        self.failed += not all(ok for _, ok, _ in checks)
        self.checks.extend(checks)


class Timer:
    """Wall time of one unit, on the monotonic clock and as an epoch span
    (the event log stamps jobs in epoch milliseconds)."""

    def __enter__(self) -> "Timer":
        self.epoch0, self.t0 = time.time(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.span = (self.epoch0, self.epoch0 + self.wall)


def _data_bytes(path: str) -> int:
    """Bytes in the data files under a sink directory; Spark's metadata,
    checksums and markers are not data."""
    size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        size += sum(os.path.getsize(os.path.join(root, n)) for n in names
                    if not n.startswith(("_", ".")))
    return size


def speed_backlog(spark, inputs: str, work: str, seconds: float,
                  seed: int, meta: dict, trace: bool) -> Result:
    from big_data_crypto_sentiment_spark.jobs.speed_layer import (
        start_speed_layer,
    )
    res = Result("speed_backlog")
    tweets, prices = (os.path.join(inputs, d) for d in ("tweets", "prices"))
    n_rows = meta["rows"]
    start = time.perf_counter()
    while not res.attempted or time.perf_counter() - start < seconds:
        out = os.path.join(work, f"speed{res.attempted}")
        with Timer() as t:
            queries = start_speed_layer(spark, tweets, prices, out)
            errors = []
            for q in queries:
                try:
                    q.awaitTermination()
                except Exception as e:  # a failed query is a failed drain
                    errors.append(repr(e))
        progress = [[json.loads(p.json) for p in q.recentProgress]
                    for q in queries]
        if errors:
            checks = [("speed_queries_terminate", False, "; ".join(errors))]
        else:
            checks = reference.check_speed(tweets, prices, out, progress,
                                           meta["late_rows"])
        res.record(checks)
        res.rows += n_rows
        res.wall_s += t.wall
        res.windows.append(t.span)
        res.samples += [p["durationMs"]["triggerExecution"] / 1e3
                        for ps in progress for p in ps]
        res.drains.append(([str(q.id) for q in queries], progress))
        res.capture_bytes += sum(_data_bytes(os.path.join(out, d))
                                 for d in ("raw_tweets", "raw_prices"))
    return res


BATCH_SINKS = ("raw_batch_tweets", "raw_batch_prices",
               "batch_prices_with_tweets")


def _sink_listing(out: str) -> dict:
    listing = {}
    for sink in BATCH_SINKS:
        found = set()
        for root, dirs, names in os.walk(os.path.join(out, sink)):
            found |= {os.path.join(root, n) for n in names
                      if n.endswith((".jsonl", ".parquet"))}
        listing[sink] = found
    return listing


BATCH_TICKS = 2  # after a traced curation; the first tick makes the checkpoint


def batch_ticks(spark, work: str, seed: int, res: Result) -> None:
    """Cron ticks on one checkpoint: each drops one new events file into
    the input directory and runs run_batch, then checks what that tick
    wrote. Every tick is checked; its timings go to the batch layer's
    per-layer numbers, not to the end-to-end metrics."""
    from big_data_crypto_sentiment_spark.jobs.batch_job import run_batch
    in_dir, out, ckpt = (os.path.join(work, d) for d in ("in", "out", "ckpt"))
    staging = os.path.join(work, "staging")
    os.makedirs(in_dir), os.makedirs(staging)
    res.sink_files = {s: (0, 0) for s in BATCH_SINKS}
    for tick in range(BATCH_TICKS):
        staged = os.path.join(staging, f"drop-{tick:04d}.parquet")
        gen.gen_drop(seed, tick, staged)
        dropped = os.path.join(in_dir, os.path.basename(staged))
        os.replace(staged, dropped)  # the drop appears whole
        before = _sink_listing(out)
        with Timer() as t:
            run_batch(spark, in_dir, out, ckpt)
        after = _sink_listing(out)
        new = {s: sorted(after[s] - before[s]) for s in BATCH_SINKS}
        res.record(reference.check_tick(dropped, new))
        res.tick_samples.append(t.wall)
        res.tick_windows.append(t.span)
        for s in BATCH_SINKS:
            files, size = res.sink_files[s]
            res.sink_files[s] = (files + len(new[s]),
                                 size + sum(map(os.path.getsize, new[s])))


def curate_funnel(spark, inputs: str, work: str, seconds: float,
                  seed: int, meta: dict, trace: bool) -> Result:
    from big_data_crypto_sentiment_spark.jobs.curate import run_curation
    res = Result("curate_funnel")
    start = time.perf_counter()
    while not res.samples or time.perf_counter() - start < seconds:
        sf = os.path.join(work, f"corpus{len(res.samples)}")
        shutil.copytree(os.path.join(inputs, "corpus"), sf)
        out = os.path.join(work, f"curated{len(res.samples)}")
        with Timer() as t:
            stats = run_curation(spark, sf, out)
        res.record(reference.check_curation(sf, out, stats))
        res.stats = stats
        res.rows += meta["rows"]
        res.wall_s += t.wall
        res.samples.append(t.wall)
        res.windows.append(t.span)
    if trace:
        batch_ticks(spark, os.path.join(work, "batch"), seed, res)
    return res


WORKLOADS = {
    "speed_backlog": speed_backlog,
    "curate_funnel": curate_funnel,
}
