"""Host-speed calibration probe, independent of the program under test.

The benchmark runs on shared virtual machines whose speed drifts with the
other tenants' load: runs of the same code half an hour apart have
differed by 25-30%. The probe times a fixed piece of work shaped like the
program's own (one fresh Python process per CPU, all started together,
each importing numpy, pandas and pyarrow as Spark's Python workers do,
then a pure-Python loop, a numpy matrix loop and a pandas group-by) a few
times before and after each run. End-to-end metrics are reported as
they would read on a host where the probe takes ``REFERENCE_S``
(perfbench/run.py). Over 44 runs spread across two hours on a 4-vCPU
shared VM, the probe's drift explained most of the benchmark's: log-log
slopes of 0.8-1.3 against each end-to-end metric, correlations 0.66-0.95.
The probe neither imports nor starts the program, so a change to the
program moves the scaled figures as it moves the measured ones.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

# the probe's median on the 4-vCPU VM the benchmark was defined on; fixed
# once, because every recorded figure is scaled by it
REFERENCE_S = 1.1

WORK = """
import numpy as np, pandas as pd, pyarrow as pa
x = 0
for i in range(300000):
    x += i * i % 7
a = np.random.default_rng(0).random((200, 200))
for _ in range(20):
    a = a @ a
    a /= a.max()
df = pd.DataFrame({"k": np.arange(100000) % 97, "v": np.arange(100000.0)})
df.groupby("k").v.sum()
pa.Table.from_pandas(df)
"""


def probe_s() -> float:
    """Wall seconds for one probe process per usable CPU to finish."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", WORK], env=env)
             for _ in os.sched_getaffinity(0)]
    codes = [p.wait() for p in procs]
    wall = time.perf_counter() - t0
    if any(codes):
        raise RuntimeError(f"calibration probe failed: exit codes {codes}")
    return wall
