"""The parser against a tiny recorded log: one run_batch tick of Spark
4.1.2, trimmed to the fields the parser reads and rolled over two files."""

import os

import pytest

from perfbench import eventlog, layers

DATA = os.path.join(os.path.dirname(__file__), "data")
QUERY = "a37a6b68-6b0b-4104-8370-33a40f1f46ad"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(DATA)


def test_rolled_files_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_app-1").write_text("")
    (app / "appstatus_app-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_app-1", "events_2_app-1", "events_10_app-1"]


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        eventlog.event_files(str(tmp_path))


def test_jobs_spans_queries_and_executions(log):
    assert sorted(log.jobs) == [12, 13, 14, 15]
    job = log.jobs[15]
    assert (job.start_ms, job.end_ms) == (1792206451652, 1792206451941)
    assert job.stages == [18, 19, 20]
    assert {j.query for j in log.jobs.values()} == {QUERY}
    assert [j.execution for j in log.jobs.values()] == [4, 6, 6, 6]
    assert "batch_prices_with_tweets" in log.executions[6]


def test_task_metrics_and_sql_timings(log):
    assert [t.stage for t in log.tasks] == [15, 16, 17, 20]
    t = log.tasks[1]
    assert (t.run_ms, t.cpu_ns, t.records_in, t.shuffle_write_bytes) == \
        (216, 129014607, 2, 2006)
    assert t.sql_s == {"agg_build_s": 0.111}
    assert log.tasks[3].records_in == 32  # shuffle records read count too


def test_progress_events(log):
    assert [p["batchId"] for p in log.progress] == [0, 1]
    assert eventlog.progress_epoch_s(log.progress[0]) == \
        pytest.approx(1792206439.290)


def test_summary_of_the_recorded_tick(log):
    s = layers.summary(log, list(log.jobs.values()))
    assert (s["jobs"], s["stages"], s["tasks"]) == (4, 4, 4)
    assert s["run_s"] == pytest.approx(0.913)
    assert s["cpu_s"] == pytest.approx(0.42196962)
    assert s["shuffle_bytes"] == 407683
    assert s["agg_build_s"] == pytest.approx(0.199)
    assert s["useful_task_ratio"] == 1.0
    # jobs 13 and 14 overlap: busy time is the union, not the sum
    assert s["busy_s"] == pytest.approx(0.399 + 0.288 + 0.289, abs=1e-6)


def test_batch_tick_attribution(log):
    lo = eventlog.progress_epoch_s(log.progress[1])  # the tick's trigger
    hi = log.jobs[15].end_ms / 1e3 + 0.5

    class Res:
        workload, windows, stats = "curate_funnel", [], {"n_kept": 5}
        tick_windows, tick_samples = [(lo, hi)], [hi - lo]
        sink_files = {"raw_batch_tweets": (1, 10)}

    m = layers.per_layer(log, Res, 123.0, 1.5)
    assert set(m) == set(layers.METRICS)
    assert m["jobs.batch_job.jobs"] == 4
    assert m["jobs.batch_job.tick_p50_s"] == pytest.approx(hi - lo)
    assert m["operators.windowed_join.shuffle_bytes"] == 405677 + 2006
    assert m["sinks.raw_batch_tweets.files_written"] == 1
    assert m["jobs.batch_job.driver_s"] == pytest.approx(
        (hi - lo) - m["jobs.batch_job.busy_s"])
    assert m["streaming.replay.rows_in"] == 24096  # one tick's progress
    assert (m["jobs.curate.kept"], m["session.peak_rss_mb"],
            m["host.probe_s"]) == (5, 123.0, 1.5)
    # the streaming layers this workload bypasses read zero
    assert all(v == 0 for k, v in m.items()
               if k.startswith(("streaming.stateful", "streaming.enrich",
                                "streaming.windowed", "streaming.sinks",
                                "jobs.speed_layer")))
