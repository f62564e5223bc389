"""Capture `.explain("formatted")` output for named registry entries
into plans/r<round>/<name>_<tag>.txt — an optimization round's
before/after plan evidence (plan-shape claims are checked against these
files).

Usage: python tools/explain.py <round> <tag> <query-name> [...]
       python tools/explain.py 17 before curate_funnel_stats dsir_select

Expression ids (#n) and plan_ids are stripped so before/after diffs show
structure, not id churn. sf_dir defaults to sf0.1 (the benched scale);
override with SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_ADDR = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r", \[plan_id=\d+\]")


def main() -> int:
    if len(sys.argv) < 4 or not sys.argv[1].isdigit():
        print("usage: explain.py <round> <tag> <query-name> [...]",
              file=sys.stderr)
        return 2
    rnd, tag, names = f"r{sys.argv[1]}", sys.argv[2], sys.argv[3:]
    from big_data_crypto_sentiment_spark.queries import all_queries
    from big_data_crypto_sentiment_spark.session import get_spark

    spark = get_spark(f"explain_{rnd}",
                      extra_conf={"spark.ui.enabled": "false"})
    qs = all_queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = (df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        plan = _PLAN_ID.sub("", _ADDR.sub("", plan))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {SF_DIR} ({tag})\n{plan}")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
