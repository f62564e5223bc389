"""The bench contract line must survive the driver's finite stdout
tail capture (~2000 chars): whatever the registry grows to, the
printed JSON stays parseable and under budget, keeps the slowest
entries (the regression-relevant ones), and points at the full map."""

import json
import sys


def _summary_line():
    sys.path.insert(0, "/root/repo")
    from bench import summary_line
    return summary_line


def test_line_under_budget_with_current_registry_names():
    from big_data_crypto_sentiment_spark.queries import all_queries
    summary_line = _summary_line()
    # worst realistic widths: 4-digit seconds with 2 decimals
    timings = {n: 9999.99 for n in all_queries()}
    line = summary_line(timings, 12345.67, 0.1)
    assert len(line) <= 1980
    d = json.loads(line)
    assert d["n_queries"] == len(timings)
    assert d["full"] == "BENCH_FULL.json"
    assert len(d["queries"]) >= 40     # enough coverage for regressions


def test_slowest_entries_survive_trimming():
    summary_line = _summary_line()
    timings = {f"q{i:03d}": float(i) for i in range(300)}
    d = json.loads(summary_line(timings, 1.0, 0.01))
    kept = set(d["queries"])
    dropped = set(timings) - kept
    assert kept and dropped
    assert min(timings[k] for k in kept) >= max(
        timings[k] for k in dropped)


def test_pinned_entries_survive_even_when_fast(monkeypatch):
    """r17 (VERDICT r16 #4): entries printed by the previous driver
    round are force-included even when they got fast enough to fall
    out of the slowest-first selection — so the round-over-round
    comparison never mislabels an improvement as dropped_from_bench."""
    sys.path.insert(0, "/root/repo")
    import bench
    monkeypatch.setattr(bench, "line_pins",
                        lambda: ["q000", "q001", "not_in_registry"])
    timings = {f"q{i:03d}": float(i) for i in range(300)}
    d = json.loads(bench.summary_line(timings, 1.0, 0.01))
    # q000/q001 are the CHEAPEST entries yet must be in the line
    assert d["queries"]["q000"] == 0.0
    assert d["queries"]["q001"] == 1.0
    assert "not_in_registry" not in d["queries"]
    # slowest-first fill still present alongside the pins
    assert "q299" in d["queries"]


def test_pins_file_names_are_registry_or_artifact_entries():
    """The committed pin list must stay consistent with the bench's
    own entry universe (registry names + artifact: entries), or a
    stale pin would silently waste line budget — and must name every
    artifact: entry."""
    sys.path.insert(0, "/root/repo")
    import bench
    from big_data_crypto_sentiment_spark.queries import all_queries
    pins = bench.line_pins()
    assert pins, "pins file missing or empty"
    universe = set(all_queries())
    # artifact names straight from the single source of truth (the
    # thunks are lazy, so no SparkSession is needed to list them)
    art = {n for n, _ in bench.artifact_thunks(None, "")}
    for n in pins:
        assert n in universe or n in art, n
    # every artifact entry is pinned: a new one must reach the line
    # even when its build is fast
    assert not art - set(pins), sorted(art - set(pins))


def test_tiny_limit_still_valid_json():
    summary_line = _summary_line()
    d = json.loads(_summary_line()({"a": 1.0}, 1.0, 0.1, limit=10))
    assert d["queries"] == {}          # no room -> head only, parseable


def test_bench_compare_loads_all_artifact_shapes(tmp_path):
    import json as _json
    sys.path.insert(0, "/root/repo/tools")
    import bench_compare as bc
    full = tmp_path / "full.json"
    full.write_text(_json.dumps(
        {"queries": {"a": 1.0, "b": 2.0, "tiny": 0.1}}))
    driver = tmp_path / "driver.json"
    driver.write_text(_json.dumps(
        {"parsed": None,
         "tail": 'garbage "a": 2.1, "b": 2.0, "tiny": 0.4 more'}))
    old, new = bc.load(str(full)), bc.load(str(driver))
    regs, imps, n = bc.compare(old, new, 1.5)
    assert n == 2                      # tiny filtered by MIN_BASE_SEC
    assert [r[1] for r in regs] == ["a"]      # 1.0 -> 2.1
    assert not imps


def test_calibration_probes_always_survive_trimming():
    """The calibration:* entries are the cross-round host yardstick —
    they must ride the printed line even when 300 slower entries
    compete for the byte budget."""
    summary_line = _summary_line()
    timings = {f"q{i:03d}": float(i) for i in range(300)}
    timings["calibration:jvm_hashagg"] = 0.9
    timings["calibration:numpy_matmul"] = 0.5
    timings["calibration:jvm_hashagg_end"] = 1.1
    timings["calibration:numpy_matmul_end"] = 0.6
    d = json.loads(summary_line(timings, 1.0, 0.01))
    assert d["queries"]["calibration:jvm_hashagg"] == 0.9
    assert d["queries"]["calibration:numpy_matmul_end"] == 0.6
    assert "loadavg_start" in d and "loadavg_end" in d


def test_bench_compare_divides_out_host_factor(tmp_path):
    """A uniform 2x host slowdown (probes AND queries all 2x) must
    compare clean; a real 2x regression on a stable host must still
    flag. Probes are never listed as regressions themselves."""
    import json as _json
    sys.path.insert(0, "/root/repo/tools")
    import importlib

    import bench_compare as bc
    importlib.reload(bc)
    old = {"queries": {"a": 1.0, "b": 3.0,
                       "calibration:jvm_hashagg": 1.0,
                       "calibration:numpy_matmul": 0.5}}
    slow_host = {"queries": {"a": 2.0, "b": 6.0,
                             "calibration:jvm_hashagg": 2.0,
                             "calibration:numpy_matmul": 1.0}}
    real_reg = {"queries": {"a": 1.0, "b": 6.1,
                            "calibration:jvm_hashagg": 1.0,
                            "calibration:numpy_matmul": 0.5}}
    po, ps, pr = (tmp_path / n for n in ("o.json", "s.json", "r.json"))
    po.write_text(_json.dumps(old))
    ps.write_text(_json.dumps(slow_host))
    pr.write_text(_json.dumps(real_reg))
    o, s, r = bc.load(str(po)), bc.load(str(ps)), bc.load(str(pr))
    f = bc.calibration_factor(o, s)
    assert abs(f - 2.0) < 1e-9
    regs, imps, n = bc.compare(o, s, 1.5, f)
    assert not regs and not imps and n == 2
    f2 = bc.calibration_factor(o, r)
    assert abs(f2 - 1.0) < 1e-9
    regs2, _, _ = bc.compare(o, r, 1.5, f2)
    assert [x[1] for x in regs2] == ["b"]
    # pre-probe artifact: factor is None, compare falls back to raw
    assert bc.calibration_factor({"a": 1.0}, {"a": 2.0}) is None


def test_total_excludes_calibration_probes():
    sys.path.insert(0, "/root/repo")
    from bench import compute_total
    t = {"q1": 1.5, "q2": 2.0, "broken": -1.0,
         "calibration:jvm_hashagg": 0.9,
         "calibration:numpy_matmul_end": 0.5}
    assert compute_total(t) == 3.5
