from perfbench import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail(list(range(11)))[0] == 9


def test_tail_leaves_ten_samples_beyond_it():
    for n in (11, 16, 20, 37, 100, 1000):
        values = [float(i) for i in range(n, 0, -1)]  # unsorted input
        p, value, count = stats.tail(values)
        assert count == n
        assert sum(v > value for v in values) >= 10
        # the next whole percentile would leave fewer than ten beyond it
        assert (100 * (n - 10)) // n == p
        assert (p + 1) * n > 100 * (n - 10)


def test_tail_known_percentiles():
    assert stats.tail([float(i) for i in range(1, 21)]) == (50, 10.0, 20)
    assert stats.tail([float(i) for i in range(1, 101)]) == (90, 90.0, 100)
    assert stats.tail([float(i) for i in range(1, 1001)]) == (99, 990.0, 1000)


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_union_and_clip():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert stats.union_length(spans) == 4.0
    assert stats.union_length([]) == 0.0
    assert stats.clip(spans, (1.5, 5.5)) == [(1.5, 2.0), (1.5, 3.0),
                                             (5.0, 5.5)]


def test_tree_rss_counts_only_descendants():
    import os
    import subprocess
    import sys
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        assert stats.tree_rss_bytes(os.getpid()) > 0
        assert stats.tree_rss_bytes(child.pid) == 0
    finally:
        child.kill()
        child.wait(timeout=30)


def test_probe_times_one_process_per_cpu():
    from perfbench import probe
    assert 0 < probe.probe_s() < 60
