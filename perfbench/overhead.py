"""Tracing overhead: run one workload and seed untraced, then traced, and
print each end-to-end metric of both runs with their difference. Also
confirms the two runs of the same seed agree: both pass their checks
and, for curate_funnel, print identical funnel stats.

    python3 perfbench/overhead.py --workload curate_funnel --seed 1 \\
        --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, check=False)
    tagged = {line.split(" ", 1)[0]: json.loads(line.split(" ", 1)[1])
              for line in p.stdout.splitlines()
              if line.startswith(("e2e {", "funnel {"))}
    return {"rc": p.returncode, **tagged}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    if plain["rc"] or traced["rc"] or "e2e" not in plain or "e2e" not in traced:
        print(f"a run failed: untraced exit {plain['rc']}, "
              f"traced exit {traced['rc']}")
        return 1
    print(f"{'metric':<14} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for name, base in plain["e2e"].items():
        value = traced["e2e"][name]
        print(f"{name:<14} {base:>12.4f} {value:>12.4f} "
              f"{(value - base) / base:>+9.1%}")
    if plain.get("funnel") != traced.get("funnel"):
        print(f"funnel stats differ for seed {args.seed}: "
              f"{plain.get('funnel')} vs {traced.get('funnel')}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
