"""Solo 3-run retime of named registry entries at sf0.1 — the
ta_sma_vwap playbook (BASELINE.md §r11) as a reusable tool: one quiet
session, three consecutive noop-write materializations per entry (the
first run carries session codegen/JIT; the warm runs are the
attribution-correct reading). Prints one JSON line.

Usage: python tools/retime_entries.py ts_interpolate sim_semdedup

`artifact:*` names are accepted too (r17): they resolve to the same
build thunks bench.py times, with every session artifact evicted
before EVERY run (the on-disk warehouse dir is removed too) — so each
wall is a true cold rebuild, not the first-run-cold/rest-warm pattern
registry entries get.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 5
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: retime_entries.py <query-name> [...]",
              file=sys.stderr)
        return 2
    from bench import _calibration_probes, artifact_thunks, materialize
    from big_data_crypto_sentiment_spark.queries import (
        all_queries,
        clear_session_caches,
    )
    from big_data_crypto_sentiment_spark.session import get_spark

    spark = get_spark("retime_entries",
                      extra_conf={"spark.ui.enabled": "false"})
    qs = all_queries()
    arts = artifact_thunks(spark, SF_DIR)   # [(name, thunk)] bench order
    art_names = [n for n, _ in arts]
    out: dict = {"sf_dir": SF_DIR, "runs": RUNS,
                 "loadavg_start": [round(x, 2) for x in os.getloadavg()],
                 "calibration": _calibration_probes(spark)}
    for name in names:
        walls = []
        for _ in range(RUNS):
            if name in art_names:
                # bench-context cold: evict ALL session caches, rebuild
                # the artifacts that precede this one in bench order
                # (unmeasured — they are warm when bench times it), then
                # time the target build itself.
                clear_session_caches()
                for n2, thunk in arts:
                    if n2 == name:
                        t0 = time.perf_counter()
                        thunk()
                        walls.append(
                            round(time.perf_counter() - t0, 2))
                        break
                    thunk()
            else:
                t0 = time.perf_counter()
                materialize(qs[name](spark, SF_DIR))
                walls.append(round(time.perf_counter() - t0, 2))
        out[name] = {"walls": walls, "warm_min": min(walls[1:])}
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
