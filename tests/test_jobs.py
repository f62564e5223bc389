"""End-to-end job tests: the three reference entry points composed and
run on real fixture data — batch job incrementality across two runs,
the five-query speed layer, and the trainer artifact."""

import glob
import json
import os

import pandas as pd
import pytest
from conftest import conf_gates
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.jobs.batch_job import run_batch
from big_data_crypto_sentiment_spark.jobs.speed_layer import (
    SHUFFLE_PARTITIONS,
    start_speed_layer,
)
from big_data_crypto_sentiment_spark.jobs.train import main as train_main
from big_data_crypto_sentiment_spark.queries._util import table
from big_data_crypto_sentiment_spark.streaming.replay import replay_dir
from big_data_crypto_sentiment_spark.streaming.sinks import start_jsonl_sink
from big_data_crypto_sentiment_spark.streaming.stateful import (
    online_forecast,
    reference_forecast_series,
)

SF_DIR = "/root/testdata/sf0.001"


def _count_jsonl(d):
    return sum(1 for p in glob.glob(f"{d}/*.jsonl") for _ in open(p))


def test_batch_job_incremental_two_runs(spark, tmp_path):
    """Run 1 processes the first drop; run 2 sees ONLY the new file —
    the reference's processed-state semantics via checkpoint."""
    ev = table(spark, SF_DIR, "events")
    in_dir = str(tmp_path / "incoming")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(in_dir)

    out1 = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_batch(spark, in_dir, out1, ck, window="30 minutes")
    n_tweets_1 = _count_jsonl(os.path.join(out1, "raw_batch_tweets"))
    assert n_tweets_1 == first.filter(F.col("props").isNotNull()).count()

    # second drop arrives; rerun with the same checkpoint
    second.coalesce(1).write.mode("append").parquet(in_dir)
    run_batch(spark, in_dir, out1, ck, window="30 minutes")
    n_tweets_2 = _count_jsonl(os.path.join(out1, "raw_batch_tweets"))
    assert (n_tweets_2 - n_tweets_1
            == second.filter(F.col("props").isNotNull()).count())
    # joined metrics landed as date-partitioned parquet
    joined = spark.read.parquet(os.path.join(out1, "batch_prices_with_tweets"))
    assert joined.count() > 0
    assert "date" in joined.columns


def _speed_roles(spark):
    """events sf0.001 as the speed layer's tweet and price inputs."""
    ev = table(spark, SF_DIR, "events")
    tweets = (ev.filter(F.col("props").isNotNull())
                .select(F.col("ts").alias("event_time"),
                        F.col("event_type").alias("symbol"),
                        F.col("props").alias("text")))
    prices = (ev.filter(F.col("value").isNotNull())
                .select(F.col("ts").alias("event_time"),
                        F.col("event_type").alias("symbol"),
                        F.col("value").alias("price")))
    return tweets, prices


def _write_speed_inputs(spark, tmp_path):
    t_dir, p_dir = str(tmp_path / "t"), str(tmp_path / "p")
    tweets, prices = _speed_roles(spark)
    tweets.coalesce(1).write.parquet(t_dir)
    prices.coalesce(1).write.parquet(p_dir)
    return t_dir, p_dir


def _drain(queries):
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()


def _offset_log_conf(checkpoint, batch_id):
    """The session conf a streaming query recorded for one micro-batch:
    line 1 of the offset log entry is its metadata JSON."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_speed_layer_five_sinks(spark, tmp_path):
    t_dir, p_dir = _write_speed_inputs(spark, tmp_path)
    out = str(tmp_path / "out")
    _drain(start_speed_layer(spark, t_dir, p_dir, out, window="30 minutes"))
    n_tweets = spark.read.parquet(t_dir).count()
    n_prices = spark.read.parquet(p_dir).count()
    assert spark.read.parquet(os.path.join(out, "raw_tweets")).count() == n_tweets
    assert spark.read.parquet(os.path.join(out, "raw_prices")).count() == n_prices
    assert _count_jsonl(os.path.join(out, "tweet_sentiment")) == n_tweets
    assert _count_jsonl(os.path.join(out, "price_forecasts")) == n_prices
    # windowed join emitted at least the watermark-closed windows
    joined = spark.read.parquet(os.path.join(out, "prices_with_tweets"))
    assert joined.count() > 0
    # sentiment sink rows carry the enrichment column
    with open(glob.glob(f"{out}/tweet_sentiment/*.jsonl")[0]) as f:
        assert "sentiment_score" in json.loads(next(f))


def test_speed_layer_state_partitions_follow_parallelism(spark, tmp_path):
    """A fresh speed layer records the session's default parallelism,
    not the session's shuffle-partition conf, as the state-partition
    count of both stateful queries; the session's own value survives
    the call, also when the call raises (and then no query is left
    running)."""
    t_dir, p_dir = _write_speed_inputs(spark, tmp_path)
    cores = str(spark.sparkContext.defaultParallelism)
    assert cores != "8"  # local[4]: the two counts are distinguishable
    out = str(tmp_path / "out")
    with conf_gates(spark, {SHUFFLE_PARTITIONS: "8"}):
        _drain(start_speed_layer(spark, t_dir, p_dir, out,
                                 window="30 minutes"))
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "8"
        for name in ("price_forecasts", "prices_with_tweets"):
            conf = _offset_log_conf(
                os.path.join(out, "_checkpoints", name), 0)
            assert conf[SHUFFLE_PARTITIONS] == cores, name

        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            start_speed_layer(spark, t_dir, str(tmp_path / "missing"),
                              str(tmp_path / "out_missing"))
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "8"
        # the last query fails after four have started: they are stopped
        with pytest.raises(Exception):
            start_speed_layer(spark, t_dir, p_dir,
                              str(tmp_path / "out_bad"),
                              window="not a duration")
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "8"
        assert not spark.streams.active


def test_speed_layer_resumes_forecast_checkpoint(spark, tmp_path):
    """A forecast checkpoint created on the session's 8 shuffle
    partitions (the job's earlier behaviour) resumes through
    start_speed_layer on those 8, with its per-symbol state: the
    forecasts over both input chunks equal the sequential reference
    over all rows."""
    tweets, prices = _speed_roles(spark)
    t_dir, p_dir = str(tmp_path / "t"), str(tmp_path / "p")
    tweets.coalesce(1).write.parquet(t_dir)
    cut = pd.Timestamp("2024-01-15")
    first = prices.filter(F.col("event_time") < F.lit(cut))
    second = prices.filter(F.col("event_time") >= F.lit(cut))
    first.coalesce(1).write.parquet(p_dir)
    out = str(tmp_path / "out")
    sink = os.path.join(out, "price_forecasts")
    ck = os.path.join(out, "_checkpoints", "price_forecasts")
    stream = replay_dir(spark, p_dir, spark.read.parquet(p_dir).schema)
    with conf_gates(spark, {SHUFFLE_PARTITIONS: "8"}):
        _drain([start_jsonl_sink(online_forecast(stream), sink, ck)])
        assert 0 < _count_jsonl(sink) == first.count()

        second.coalesce(1).write.mode("append").parquet(p_dir)
        _drain(start_speed_layer(spark, t_dir, p_dir, out,
                                 window="30 minutes"))
    assert _offset_log_conf(ck, 0)[SHUFFLE_PARTITIONS] == "8"
    assert _offset_log_conf(ck, 1)[SHUFFLE_PARTITIONS] == "8"

    key = ["symbol", "event_time"]
    got = pd.DataFrame([json.loads(line)
                        for p in glob.glob(f"{sink}/*.jsonl")
                        for line in open(p)])
    got["event_time"] = pd.to_datetime(got["event_time"])
    got = got.sort_values(key).reset_index(drop=True)
    want = (reference_forecast_series(prices.toPandas())
            .sort_values(key).reset_index(drop=True))
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["next_price_forecast"],
                                   want["next_price_forecast"],
                                   rtol=1e-12)
    # the state carried over: from an empty state the second chunk's
    # forecasts come out different
    fresh = (reference_forecast_series(second.toPandas())
             .sort_values(key)["next_price_forecast"].to_numpy())
    resumed = got.loc[want["event_time"] >= cut, "next_price_forecast"]
    assert len(fresh) == len(resumed) > 0
    assert (resumed.to_numpy() != fresh).any()


def test_train_job_writes_bundle(spark, tmp_path, capsys):
    out = str(tmp_path / "models" / "ar1.json")
    rc = train_main(["--sf-dir", "/root/testdata/sf0.01", "--out", out])
    assert rc == 0
    bundle = json.load(open(out))
    assert bundle["models"]
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["symbols"] == sorted(bundle["models"])


def test_dim_build_lifecycle(spark, tmp_path):
    """Dimension job end-to-end on fixture data: seed build + persist,
    incremental refresh equals a from-scratch rebuild, point-in-time
    enrichment covers every fact, and the is_current partition prunes
    to one open interval per user."""
    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        enrich_facts,
        read_current,
        refresh_dimension,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    seed = str(tmp_path / "dim_v1")
    write_dimension(build_dimension(events.filter(F.col("ts") < cut)), seed)
    merged = refresh_dimension(spark, seed,
                               events.filter(F.col("ts") >= cut),
                               str(tmp_path / "dim_v2"))
    full = build_dimension(events)
    as_set = lambda df: {  # noqa: E731
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in df.collect()}
    assert as_set(merged) == as_set(full)
    # hot partition: exactly one open interval per user
    cur = read_current(spark, str(tmp_path / "dim_v2"))
    n_users = cur.select("user_id").distinct().count()
    assert cur.count() == n_users > 0
    # enrichment: one output row per fact event
    n_facts = events.filter(F.col("event_type") == "error")\
                    .filter(F.col("user_id").isNotNull()
                            & F.col("ts").isNotNull()).count()
    enriched = enrich_facts(events, merged)
    assert enriched.count() == n_facts
    assert enriched.filter(F.col("state").isNotNull()).count() > 0


def test_streaming_dim_maintenance_converges_to_batch_rebuild(spark, tmp_path):
    """CDC-style streaming SCD2 upkeep: seed a dimension, stream two
    append-only event drops through start_dim_maintenance, and assert
    the published `current` snapshot equals a from-scratch batch
    rebuild over everything."""
    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        start_dim_maintenance,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events").filter(F.col("ts").isNotNull())
    c1 = F.lit("2024-01-12").cast("timestamp")
    c2 = F.lit("2024-01-21").cast("timestamp")
    dim_dir = str(tmp_path / "dim")
    write_dimension(build_dimension(events.filter(F.col("ts") < c1)),
                    f"{dim_dir}/current")
    src = str(tmp_path / "src")
    events.filter((F.col("ts") >= c1) & (F.col("ts") < c2)).coalesce(1) \
          .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_dim_maintenance(spark, stream, dim_dir,
                              str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        events.filter(F.col("ts") >= c2).coalesce(1) \
              .write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(f"{dim_dir}/current")
    want = build_dimension(events)
    key = lambda r: (r.user_id, r.version)  # noqa: E731
    as_map = lambda df: {key(r): (r.state, r.valid_from, r.valid_to,  # noqa: E731
                                  r.is_current) for r in df.collect()}
    assert as_map(got) == as_map(want)


def test_dim_swap_crash_recovery(spark, tmp_path):
    """Both crash windows of the snapshot swap heal: (a) crash between
    the two renames → no `current` but `_old_<b>` intact, recovery
    restores it; (b) crash after publish before cleanup → `current` new
    plus stale `_old_<b>`, recovery keeps `current` and prunes the
    stale dir so the next swap's rename isn't blocked."""
    import os
    import shutil

    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        recover_current,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events").filter(F.col("ts").isNotNull())
    dim_dir = str(tmp_path / "dim")
    cur = f"{dim_dir}/current"
    write_dimension(build_dimension(events), cur)
    want = sorted(map(tuple, spark.read.parquet(cur).collect()))
    # (a) mid-swap: old renamed aside, new not yet published
    os.rename(cur, f"{dim_dir}/_old_7")
    recover_current(dim_dir)
    assert os.path.isdir(cur) and not os.path.isdir(f"{dim_dir}/_old_7")
    assert sorted(map(tuple, spark.read.parquet(cur).collect())) == want
    # (b) post-publish: current exists, stale _old left behind
    shutil.copytree(cur, f"{dim_dir}/_old_8")
    recover_current(dim_dir)
    assert os.path.isdir(cur) and not os.path.isdir(f"{dim_dir}/_old_8")
    assert sorted(map(tuple, spark.read.parquet(cur).collect())) == want


def test_export_training_sharded_shuffle(spark, tmp_path):
    """Last-mile export: curate, then export the train split — every
    kept train doc appears exactly once, each shard file is ordered by
    position, and a re-run reproduces identical shard contents."""
    import json as _json

    from big_data_crypto_sentiment_spark.jobs.curate import run_curation
    from big_data_crypto_sentiment_spark.jobs.export_training import (
        export_training,
    )
    curated = str(tmp_path / "curated")
    run_curation(spark, SF_DIR, curated)
    want = (spark.read.parquet(curated)
                 .filter(F.col("split") == "train").count())
    out1 = str(tmp_path / "shards1")
    n = export_training(spark, SF_DIR, curated, out1, n_shards=4)
    assert n == want > 0

    def shard_contents(out):
        got = {}
        for p in sorted(glob.glob(f"{out}/shard=*/*.json")):
            shard = p.split("shard=")[1].split("/")[0]
            rows = [_json.loads(line) for line in open(p)]
            got.setdefault(shard, []).extend(rows)
        return got

    got = shard_contents(out1)
    all_docs = [r["doc_id"] for rows in got.values() for r in rows]
    assert len(all_docs) == len(set(all_docs)) == want
    for shard, rows in got.items():
        assert [r["position"] for r in rows] == \
            sorted(r["position"] for r in rows)
    # reproducible
    out2 = str(tmp_path / "shards2")
    export_training(spark, SF_DIR, curated, out2, n_shards=4)
    assert shard_contents(out2) == got


def test_export_packed_fixed_length_reproducible(spark, tmp_path):
    """Tensor-ready export: every emitted sequence is exactly seq_len
    ids inside the vocab, token accounting balances (emitted + counted
    tail drop == total corpus tokens), and a re-run is value-identical
    — the byte-reproducibility contract extended through tokenize and
    pack."""
    from big_data_crypto_sentiment_spark.jobs.curate import run_curation
    from big_data_crypto_sentiment_spark.jobs.export_training import (
        export_packed,
    )
    curated = str(tmp_path / "curated")
    run_curation(spark, SF_DIR, curated)
    out1 = str(tmp_path / "packed1")
    stats = export_packed(spark, SF_DIR, curated, out1,
                          seq_len=64, n_shards=2)
    assert stats["sequences"] > 0
    assert stats["tokens"] == (stats["sequences"] * 64
                               + stats["dropped_tail_tokens"])
    assert 0 <= stats["dropped_tail_tokens"] < 2 * 64  # < seq_len/shard
    rows = spark.read.parquet(out1).collect()
    assert all(len(r.input_ids) == 64 for r in rows)
    assert all(0 <= t < stats["vocab_size"]
               for r in rows for t in r.input_ids)
    assert all(r.n_docs >= 1 for r in rows)

    out2 = str(tmp_path / "packed2")
    export_packed(spark, SF_DIR, curated, out2, seq_len=64, n_shards=2)
    a = sorted((r.shard, r.seq, tuple(r.input_ids))
               for r in spark.read.parquet(out1).collect())
    b = sorted((r.shard, r.seq, tuple(r.input_ids))
               for r in spark.read.parquet(out2).collect())
    assert a == b
