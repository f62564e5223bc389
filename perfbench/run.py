"""End-to-end benchmark of the lambda architecture: the speed layer, the
cron batch layer and the curation funnel, driven through their public
entry points on seeded, generated inputs.

    python3 perfbench/run.py --workload speed_backlog --seed 1 \\
        --seconds 5 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed (perfbench/gen.py), starts a Spark session with the
package's own ``session.get_spark`` (``local[nproc]``), runs the workload
as a closed loop for ``--seconds`` (perfbench/workloads.py), checks every
output against an independent DuckDB/pandas reference
(perfbench/reference.py) and prints one line per metric, then one JSON
line with ``correct``, ``attempted``, ``failed`` and ``metrics``.

The end-to-end metrics are scaled by the host-speed calibration probe
(perfbench/probe.py), timed ``PROBES`` times before the session starts
and as often after it stops: a time is divided, and a rate multiplied, by
the probes' median over ``probe.REFERENCE_S``. The figures as measured
are printed beside them.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also enables
Spark's uncompressed event log and reports the per-layer breakdown
(perfbench/layers.py); perfbench/overhead.py compares the two runs'
end-to-end numbers to give the tracing overhead. The exit code is 0 only
when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "big_data_crypto_sentiment_spark"

WORKLOADS = ("speed_backlog", "curate_funnel")
PROBES = 2  # calibration probes before the session starts, and after it stops
E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "batch_p50_s": "s"}


def _environment(work: str) -> dict:
    """Runner hygiene: the repo on PYTHONPATH for Spark's Python workers,
    one Spark core per CPU this process may use, UTC, and every scratch
    path inside the run's work directory. Returns the session conf."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp), os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # one fixed heap on every host, small enough for a machine shared with
    # other jobs (the package default is 60% of physical memory)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
    }


def _start(conf: dict):
    """Set-up as a user pays it: JVM launch, session, first trivial job."""
    from big_data_crypto_sentiment_spark.session import get_spark
    from perfbench.workloads import Timer
    with Timer() as t:
        spark = get_spark("perfbench", extra_conf=conf)
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM (its
    Python workers end with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _print_table(title: str, values: dict, units: dict) -> None:
    print(title)
    for name, value in values.items():
        print(f"  {name:<46} {value:>16.4f} {units[name]}")


def run(args, work: str) -> int:
    from perfbench import gen, layers, probe, stats, workloads
    conf = _environment(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(_event_log_conf(log_dir))
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    meta = gen.GENERATORS[args.workload](args.seed, inputs)
    body = workloads.WORKLOADS[args.workload]
    res = None
    probes = [probe.probe_s() for _ in range(PROBES)]
    with stats.PeakRss(os.getpid()) as rss:
        spark, setup = _start(conf)
        try:
            res = body(spark, inputs, work, args.seconds, args.seed, meta,
                       bool(args.trace))
        except Exception:  # the program failed: report it, do not hide it
            traceback.print_exc()
        finally:
            _stop(spark)
    if res is None or not res.samples:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    probes += [probe.probe_s() for _ in range(PROBES)]
    probe_s = stats.median(probes)
    slowness = probe_s / probe.REFERENCE_S

    measured = {"setup_s": setup.wall,
                "rows_per_s": res.rows / res.wall_s,
                "batch_p50_s": stats.median(res.samples)}
    e2e = {"setup_s": measured["setup_s"] / slowness,
           "rows_per_s": measured["rows_per_s"] * slowness,
           "batch_p50_s": measured["batch_p50_s"] / slowness}
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds}"
          f" trace {args.trace}: {res.attempted} operations, "
          f"{len(res.samples)} unit samples")
    _print_table("end-to-end", e2e, E2E_UNITS)
    print(f"  calibration probe {probe_s:.4f} s (median of "
          f"{', '.join(f'{p:.3f}' for p in probes)}), reference "
          f"{probe.REFERENCE_S} s")
    _print_table("as measured", measured, E2E_UNITS)
    tail = stats.tail(res.samples)
    print("  batch_tail_s " + (
        f"p{tail[0]} = {tail[1]:.4f} s over {tail[2]} samples" if tail else
        f"n/a: {len(res.samples)} samples leave no percentile with ten "
        "beyond it"))
    print(f"  peak_rss_mb {rss.peak_mb:.1f} MB (driver JVM and Python "
          "workers, summed; in the per-layer set as session.peak_rss_mb)")
    print(f"  failed_ratio {res.failed / res.attempted:.4f} "
          f"({res.failed} of {res.attempted} operations)")
    for name, ok, detail in res.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print("e2e " + json.dumps(e2e))
    print("measured " + json.dumps(dict(measured, probe_s=probe_s)))
    if res.stats is not None:
        print("funnel " + json.dumps(res.stats, sort_keys=True))

    if args.trace:
        from perfbench import eventlog
        per_layer = layers.per_layer(eventlog.parse(log_dir), res,
                                     rss.peak_mb, probe_s)
        _print_table("per-layer", per_layer, layers.METRICS)
        metrics = {k: {"value": v, "unit": layers.METRICS[k]}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its files
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
