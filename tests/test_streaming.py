"""Streaming-layer tests: file replay → watermarked windowed join →
parity with the batch flagship's DuckDB twin (the lambda-architecture
invariant, SURVEY.md §5 step 3/5), stateful online forecast sequence
parity, append-mode emission semantics, and the multi-sink fan-out."""

import pandas as pd
import pytest
from conftest import conf_gates
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.operators.windowed_join import (
    prices_with_tweets,
)
from big_data_crypto_sentiment_spark.queries.flagship import (
    ORACLE,
    SEP,
    prices_role,
    tweets_role,
)
from big_data_crypto_sentiment_spark.streaming.replay import (
    replay_dir,
    write_replay_chunks,
)
from big_data_crypto_sentiment_spark.streaming.sinks import (
    start_capture_sink,
    start_jsonl_sink,
)
from big_data_crypto_sentiment_spark.streaming.stateful import (
    online_forecast,
    reference_forecast_series,
)

SF_DIR = "/root/testdata/sf0.001"
WINDOW = "30 minutes"


def _canon(pdf):
    pdf = pdf.astype({"event_timestamp": "datetime64[us]",
                      "tweet_volume": "int64"})
    pdf = pdf.sort_values(["event_timestamp", "symbol"]).reset_index(drop=True)
    return pdf.round({"avg_price": 9, "last_price": 9})


def _spark_canon(df):
    return _canon(df.withColumn("tweet_texts", F.array_join("tweet_texts", SEP))
                    .toPandas())


@pytest.fixture(scope="module")
def duckdb_flagship():
    """The batch flagship computed independently: DuckDB running the
    flagship_windowed_join oracle SQL on the same sf0.001 events."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/events.parquet')")
    return _canon(con.sql(ORACLE["flagship_windowed_join"]).df())


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """events sf0.001 split into tweet/price roles, written as 4
    time-ordered chunks each, replayed as streams."""
    root = tmp_path_factory.mktemp("replay")
    t_dir, p_dir = str(root / "tweets"), str(root / "prices")
    t_schema = write_replay_chunks(tweets_role(spark, SF_DIR), t_dir, 4)
    p_schema = write_replay_chunks(prices_role(spark, SF_DIR), p_dir, 4)
    return (replay_dir(spark, t_dir, t_schema),
            replay_dir(spark, p_dir, p_schema))


def test_replay_chunks_are_time_ordered_one_write(spark, tmp_path):
    """Chunk files must partition event time into disjoint ascending
    ranges (path order == time order), and empty input must be a no-op
    rather than a crash."""
    import glob
    out = str(tmp_path / "chunks")
    df = tweets_role(spark, SF_DIR)
    write_replay_chunks(df, out, 4)
    parts = sorted(glob.glob(f"{out}/part-*"))
    assert len(parts) == 4
    prev_max = None
    for p in parts:
        pdf = spark.read.parquet(f"file://{p}").toPandas()
        if prev_max is not None and len(pdf):
            assert pdf["event_time"].min() >= prev_max
        if len(pdf):
            prev_max = pdf["event_time"].max()
    # empty input: no crash, nothing written
    empty = df.filter(F.lit(False))
    write_replay_chunks(empty, str(tmp_path / "empty"), 4)


def test_batch_operator_matches_duckdb_twin(spark, duckdb_flagship):
    """The windowed operator on batch inputs must be row-identical to
    the flagship's DuckDB twin (a full-outer join of two aggregates)."""
    t, p = tweets_role(spark, SF_DIR), prices_role(spark, SF_DIR)
    got = _spark_canon(prices_with_tweets(t, p, WINDOW, label="start"))
    pd.testing.assert_frame_equal(duckdb_flagship, got)


def test_streaming_parity_with_batch_flagship(spark, replayed, tmp_path,
                                              duckdb_flagship):
    """File replay → watermarked streaming aggregation (complete mode) ≡
    the batch flagship's DuckDB twin on the same input."""
    t_stream, p_stream = replayed
    out = prices_with_tweets(t_stream, p_stream, WINDOW, label="start",
                             watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("stream_flagship")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start())
    try:
        q.processAllAvailable()
        got = _spark_canon(spark.table("stream_flagship"))
    finally:
        q.stop()
    pd.testing.assert_frame_equal(duckdb_flagship, got)


def test_append_mode_watermark_holds_back_open_windows(spark, replayed,
                                                       tmp_path,
                                                       duckdb_flagship):
    """T3/T4: append mode emits only windows the watermark has passed —
    emitted rows are a subset of the batch result (the flagship's
    DuckDB twin), and the held-back rows are exactly the newest
    window(s)."""
    t_stream, p_stream = replayed
    out = prices_with_tweets(t_stream, p_stream, WINDOW, label="start",
                             watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("stream_append")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start())
    try:
        q.processAllAvailable()
        got = _spark_canon(spark.table("stream_append"))
    finally:
        q.stop()
    batch = duckdb_flagship
    merged = got.merge(batch, how="left", indicator=True)
    assert (merged["_merge"] == "both").all()  # emitted ⊆ batch
    missing = batch.merge(got, how="left", indicator=True)
    missing = missing[missing["_merge"] == "left_only"]
    assert len(missing) >= 1  # something was held back…
    assert (missing["event_timestamp"]
            >= missing["event_timestamp"].min()).all()
    # …and only from the tail of event time
    held_back_start = missing["event_timestamp"].min()
    assert held_back_start >= got["event_timestamp"].max()


def test_stateful_import_loads_no_query_module():
    """Every Python worker that unpickles the forecast function imports
    streaming.stateful; in a fresh interpreter that import must not pull
    in the query registry."""
    import pathlib
    import subprocess
    import sys
    code = ("import sys\n"
            "import big_data_crypto_sentiment_spark.streaming.stateful\n"
            "print(sorted(m for m in sys.modules if m.startswith("
            "'big_data_crypto_sentiment_spark.queries')))")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True,
                         cwd=pathlib.Path(__file__).resolve().parents[1])
    assert out.stdout.strip() == "[]"


def test_stateful_online_forecast_matches_sequential_reference(
        spark, replayed, tmp_path):
    _, p_stream = replayed
    prices = p_stream.select("symbol", "event_time",
                             F.col("price").cast("double").alias("price"))
    out = online_forecast(prices, phi=0.8)
    q = (out.writeStream.format("memory").queryName("forecasts")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .start())
    try:
        q.processAllAvailable()
        got = (spark.table("forecasts").toPandas()
               .sort_values(["symbol", "event_time"])
               .reset_index(drop=True))
    finally:
        q.stop()
    raw = (prices_role(spark, SF_DIR)
           .select("symbol", "event_time", "price").toPandas())
    want = (reference_forecast_series(raw, phi=0.8)
            .sort_values(["symbol", "event_time"]).reset_index(drop=True))
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["next_price_forecast"],
                                   want["next_price_forecast"],
                                   rtol=1e-12)


def test_online_forecast_orders_rows_across_arrow_chunks(spark, tmp_path):
    """A symbol's rows in one micro-batch reach the forecast function in
    Arrow chunks of maxRecordsPerBatch rows; with 16-row chunks and
    event times shuffled within each input file, the AR(1) must still
    step through all of a micro-batch's rows in event-time order."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 200  # rows per symbol, 100 per input file
    rows = pd.concat([
        pd.DataFrame({
            "symbol": sym,
            "event_time": pd.Timestamp("2024-01-01 12:00:00")
            + pd.to_timedelta(np.arange(n), unit="s"),
            "price": 100.0 + rng.normal(size=n).cumsum()})
        for sym in ("btc", "eth")], ignore_index=True)
    src = str(tmp_path / "src")
    schema = "symbol string, event_time timestamp, price double"
    for i, chunk in enumerate(np.array_split(
            rows.sort_values("event_time").index, 2)):
        shuffled = rows.loc[chunk].sample(frac=1, random_state=i)
        spark.createDataFrame(shuffled, schema).coalesce(1) \
             .write.mode("append").parquet(src)
    with conf_gates(spark,
                    {"spark.sql.execution.arrow.maxRecordsPerBatch": "16"}):
        out = online_forecast(replay_dir(spark, src,
                                         spark.read.parquet(src).schema))
        q = (out.writeStream.format("memory").queryName("forecasts_chunked")
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start())
        try:
            q.processAllAvailable()
            got = (spark.table("forecasts_chunked").toPandas()
                   .sort_values(["symbol", "event_time"])
                   .reset_index(drop=True))
        finally:
            q.stop()
    want = (reference_forecast_series(rows)
            .sort_values(["symbol", "event_time"]).reset_index(drop=True))
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["next_price_forecast"],
                                   want["next_price_forecast"],
                                   rtol=1e-12)


def test_multi_sink_fanout_capture_and_jsonl(spark, replayed, tmp_path):
    """T8/T9: two independent queries off one upstream stream — parquet
    capture + foreachBatch JSONL bulk sink — both deliver every row."""
    import glob
    import json
    t_stream, _ = replayed
    n_expected = tweets_role(spark, SF_DIR).count()
    cap_dir, jl_dir = str(tmp_path / "capture"), str(tmp_path / "jsonl")
    q1 = start_capture_sink(t_stream, cap_dir, str(tmp_path / "c1"))
    q2 = start_jsonl_sink(t_stream, jl_dir, str(tmp_path / "c2"))
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
    assert spark.read.parquet(cap_dir).count() == n_expected
    n_jsonl = 0
    for path in glob.glob(f"{jl_dir}/*.jsonl"):
        with open(path) as f:
            for line in f:
                json.loads(line)
                n_jsonl += 1
    assert n_jsonl == n_expected


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Kill a streaming query, append more input, restart from the SAME
    checkpoint into the SAME sink: the file-source offset log plus the
    transactional file sink must deliver every input row exactly once
    across the restart (the recovery half of the T9 idempotence story)."""
    from datetime import datetime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = "event_time timestamp, k long"

    def _start():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return (stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append").start())

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame([(t0, i) for i in range(3)], schema) \
         .coalesce(1).write.mode("append").parquet(src)
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame([(t0, i) for i in range(3, 5)], schema) \
         .coalesce(1).write.mode("append").parquet(src)
    q = _start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ks = sorted(r.k for r in spark.read.parquet(out).collect())
    assert ks == [0, 1, 2, 3, 4]  # nothing lost, nothing doubled


def test_stream_stream_join_parity_with_batch_bucketized(
        spark, replayed, tmp_path):
    """TRUE stream-stream join (two watermarked state stores, time-range
    condition) ≡ the batch bucketized time_tolerance_join on the same
    input — cross-implementation equivalence, so a bug in either the
    bucket algebra or the streaming state handling breaks parity."""
    from big_data_crypto_sentiment_spark.operators.interval_join import (
        time_tolerance_join,
    )
    from big_data_crypto_sentiment_spark.streaming.windowed import (
        stream_stream_interval_join,
    )
    tol = "15 minutes"
    t_stream, p_stream = replayed
    out = stream_stream_interval_join(t_stream, p_stream, tolerance=tol)
    q = (out.writeStream.format("memory").queryName("ss_join")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
            .start())
    try:
        q.processAllAvailable()
        got = spark.table("ss_join").toPandas()
    finally:
        q.stop()
    t = tweets_role(spark, SF_DIR).withColumnRenamed("event_time",
                                                     "tweet_time")
    p = (prices_role(spark, SF_DIR)
         .withColumnRenamed("event_time", "price_time")
         .withColumnRenamed("symbol", "p_symbol"))
    batch = (time_tolerance_join(
                 t.withColumn("p_symbol", F.col("symbol")), p,
                 ["p_symbol"], 15 * 60, "tweet_time", "price_time")
             .select("symbol", "tweet_time", "text", "price_time",
                     "price").toPandas())
    key = ["symbol", "tweet_time", "text", "price_time", "price"]
    got = got.sort_values(key).reset_index(drop=True)[key]
    batch = batch.sort_values(key).reset_index(drop=True)[key]
    assert len(got) > 0
    pd.testing.assert_frame_equal(batch, got)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
        spark, replayed, tmp_path):
    """leftOuter keeps tweets with no price in ±tolerance; the NULL-price
    row may only emit once the watermark passes tweet_time + tolerance.
    With a tight tolerance the fixture has genuinely unmatched tweets;
    every emitted NULL-price row must be truly unmatched in batch, all
    batch inner pairs must appear, and nothing may emit twice."""
    from big_data_crypto_sentiment_spark.operators.interval_join import (
        time_tolerance_join,
    )
    from big_data_crypto_sentiment_spark.streaming.windowed import (
        stream_stream_interval_join,
    )
    t_stream, p_stream = replayed
    out = stream_stream_interval_join(t_stream, p_stream,
                                      tolerance="5 seconds",
                                      how="leftOuter")
    q = (out.writeStream.format("memory").queryName("ssj_outer")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ssj_lo"))
            .start())
    try:
        q.processAllAvailable()
        got = spark.table("ssj_outer").toPandas()
    finally:
        q.stop()
    t = tweets_role(spark, SF_DIR).withColumnRenamed("event_time",
                                                     "tweet_time")
    p = (prices_role(spark, SF_DIR)
         .withColumnRenamed("event_time", "price_time")
         .withColumnRenamed("symbol", "p_symbol"))
    inner = (time_tolerance_join(
                 t.withColumn("p_symbol", F.col("symbol")), p,
                 ["p_symbol"], 5, "tweet_time", "price_time")
             .select("symbol", "tweet_time", "text", "price_time",
                     "price").toPandas())
    key = ["symbol", "tweet_time", "text", "price_time", "price"]
    matched = got[got.price.notna()].sort_values(key).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(
        inner.sort_values(key).reset_index(drop=True)[key], matched[key])
    # outer rows exist, are unique, and are truly unmatched in batch
    outer = got[got.price.isna()]
    assert len(outer) > 0
    assert not outer.duplicated(["symbol", "tweet_time", "text"]).any()
    matched_keys = set(map(tuple, inner[["symbol", "tweet_time",
                                         "text"]].itertuples(index=False)))
    for row in outer[["symbol", "tweet_time", "text"]].itertuples(index=False):
        assert tuple(row) not in matched_keys


def test_stream_stream_left_outer_full_set_matches_duckdb_twin(
        spark, tmp_path):
    """FULL left-outer output parity (not just uniqueness/unmatchedness):
    the streaming join's complete emitted set — matched pairs AND
    NULL-price outer rows — must equal an independent DuckDB LEFT JOIN
    twin over the same parquet. A flush record past max_ts + tolerance
    is appended to BOTH replay streams so the global watermark passes
    every tweet_time + tolerance and the tail outer rows actually emit
    (flush rows use a symbol that matches nothing and are excluded from
    the comparison)."""
    import glob
    import os
    import time as time_mod

    import duckdb

    from big_data_crypto_sentiment_spark.streaming.windowed import (
        stream_stream_interval_join,
    )

    tol_s = 5
    root = tmp_path
    t_dir, p_dir = str(root / "t"), str(root / "p")
    t_batch = tweets_role(spark, SF_DIR)
    p_batch = prices_role(spark, SF_DIR)
    t_schema = write_replay_chunks(t_batch, t_dir, 4)
    p_schema = write_replay_chunks(p_batch, p_dir, 4)
    flush_ts = (max(t_batch.agg(F.max("event_time")).first()[0],
                    p_batch.agg(F.max("event_time")).first()[0])
                + pd.Timedelta(hours=1))
    for d, schema, row in (
            (t_dir, t_schema, [(flush_ts, "___flush___", "x")]),
            (p_dir, p_schema, [(flush_ts, "___flush___", 0.0)])):
        spark.createDataFrame(row, schema).coalesce(1) \
             .write.mode("append").parquet(d)
        newest = max(glob.glob(os.path.join(d, "part-*")),
                     key=os.path.getmtime)
        os.utime(newest, (time_mod.time() + 10, time_mod.time() + 10))

    out = stream_stream_interval_join(
        replay_dir(spark, t_dir, t_schema),
        replay_dir(spark, p_dir, p_schema),
        tolerance=f"{tol_s} seconds", how="leftOuter")
    q = (out.writeStream.format("memory").queryName("ssj_full")
            .outputMode("append")
            .option("checkpointLocation", str(root / "ckpt"))
            .start())
    try:
        q.processAllAvailable()
        got = spark.table("ssj_full").toPandas()
    finally:
        q.stop()
    got = got[got.symbol != "___flush___"]

    want = duckdb.sql(f"""
        WITH t AS (
          SELECT ts AS tweet_time, event_type AS symbol, props AS text
          FROM '{SF_DIR}/events.parquet'
          WHERE event_id % 3 != 0 AND props IS NOT NULL
        ), p AS (
          SELECT ts AS price_time, event_type AS symbol, value AS price
          FROM '{SF_DIR}/events.parquet'
          WHERE event_id % 2 != 0
        )
        SELECT t.symbol, t.tweet_time, t.text, p.price_time, p.price
        FROM t LEFT JOIN p
          ON t.symbol = p.symbol
         AND p.price_time >= t.tweet_time - INTERVAL {tol_s} SECOND
         AND p.price_time <= t.tweet_time + INTERVAL {tol_s} SECOND
    """).df()

    key = ["symbol", "tweet_time", "text", "price_time", "price"]
    for df in (got, want):
        df["tweet_time"] = pd.to_datetime(df["tweet_time"]).astype(
            "datetime64[us]")
        df["price_time"] = pd.to_datetime(df["price_time"]).astype(
            "datetime64[us]")
    got = got.sort_values(key).reset_index(drop=True)[key]
    want = want.sort_values(key).reset_index(drop=True)[key]
    assert want.price.isna().any()        # twin genuinely has outer rows
    pd.testing.assert_frame_equal(want, got)


def test_stream_stream_full_outer_full_set_matches_duckdb_twin(
        spark, tmp_path):
    """fullOuter keeps BOTH unmatched tweets (NULL price) and unmatched
    price ticks (NULL tweet_time/text) — the audit form where nothing
    from either feed is dropped. Same watermark-flush + DuckDB-twin
    method as the left-outer test, FULL JOIN twin."""
    import glob
    import os
    import time as time_mod

    import duckdb

    from big_data_crypto_sentiment_spark.streaming.windowed import (
        stream_stream_interval_join,
    )

    tol_s = 5
    t_dir, p_dir = str(tmp_path / "t"), str(tmp_path / "p")
    t_batch = tweets_role(spark, SF_DIR)
    p_batch = prices_role(spark, SF_DIR)
    t_schema = write_replay_chunks(t_batch, t_dir, 4)
    p_schema = write_replay_chunks(p_batch, p_dir, 4)
    flush_ts = (max(t_batch.agg(F.max("event_time")).first()[0],
                    p_batch.agg(F.max("event_time")).first()[0])
                + pd.Timedelta(hours=1))
    for d, schema, row in (
            (t_dir, t_schema, [(flush_ts, "___flush___", "x")]),
            (p_dir, p_schema, [(flush_ts, "___flush___", 0.0)])):
        spark.createDataFrame(row, schema).coalesce(1) \
             .write.mode("append").parquet(d)
        newest = max(glob.glob(os.path.join(d, "part-*")),
                     key=os.path.getmtime)
        os.utime(newest, (time_mod.time() + 10, time_mod.time() + 10))

    out = stream_stream_interval_join(
        replay_dir(spark, t_dir, t_schema),
        replay_dir(spark, p_dir, p_schema),
        tolerance=f"{tol_s} seconds", how="fullOuter")
    q = (out.writeStream.format("memory").queryName("ssj_fo")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start())
    try:
        q.processAllAvailable()
        got = spark.table("ssj_fo").toPandas()
    finally:
        q.stop()
    got = got[got.symbol != "___flush___"]

    want = duckdb.sql(f"""
        WITH t AS (
          SELECT ts AS tweet_time, event_type AS symbol, props AS text
          FROM '{SF_DIR}/events.parquet'
          WHERE event_id % 3 != 0 AND props IS NOT NULL
        ), p AS (
          SELECT ts AS price_time, event_type AS symbol, value AS price
          FROM '{SF_DIR}/events.parquet'
          WHERE event_id % 2 != 0
        )
        SELECT COALESCE(t.symbol, p.symbol) AS symbol,
               t.tweet_time, t.text, p.price_time, p.price
        FROM t FULL JOIN p
          ON t.symbol = p.symbol
         AND p.price_time >= t.tweet_time - INTERVAL {tol_s} SECOND
         AND p.price_time <= t.tweet_time + INTERVAL {tol_s} SECOND
    """).df()

    key = ["symbol", "tweet_time", "text", "price_time", "price"]
    for df in (got, want):
        df["tweet_time"] = pd.to_datetime(df["tweet_time"]).astype(
            "datetime64[us]")
        df["price_time"] = pd.to_datetime(df["price_time"]).astype(
            "datetime64[us]")
    got = got.sort_values(key).reset_index(drop=True)[key]
    want = want.sort_values(key).reset_index(drop=True)[key]
    assert want.price.isna().any() and want.tweet_time.isna().any()
    pd.testing.assert_frame_equal(want, got)


def test_stateful_forecast_under_rocksdb_state_store(
        spark, tmp_path):
    """The 100-TB state-store configuration (SURVEY §6: RocksDB-backed
    state instead of the default in-heap HDFS-backed store — state
    size stops being bounded by executor heap) produces bit-identical
    forecasts. Runs in an isolated newSession so the provider conf
    doesn't leak into the other streaming tests."""
    sess = spark.newSession()
    sess.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    # re-derive the stream in the new session (plans are session-bound)
    import glob
    raw = (prices_role(sess, SF_DIR)
           .select("symbol", "event_time", "price"))
    chunks = str(tmp_path / "prices_rocks")
    schema = write_replay_chunks(raw, chunks, 4)
    prices = (replay_dir(sess, chunks, schema)
              .select("symbol", "event_time",
                      F.col("price").cast("double").alias("price")))
    out = online_forecast(prices, phi=0.8)
    q = (out.writeStream.format("memory").queryName("forecasts_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .start())
    try:
        q.processAllAvailable()
        # the provider actually engaged: RocksDB working dirs exist
        # under the checkpoint's state store tree
        sst = glob.glob(str(tmp_path / "ckpt_rocks" / "state" / "**"),
                        recursive=True)
        assert any("rocksdb" in p.lower() or p.endswith(".sst")
                   or p.endswith(".zip") for p in sst)
        got = (sess.table("forecasts_rocks").toPandas()
               .sort_values(["symbol", "event_time"])
               .reset_index(drop=True))
    finally:
        q.stop()
    want = (reference_forecast_series(
                raw.toPandas(), phi=0.8)
            .sort_values(["symbol", "event_time"]).reset_index(drop=True))
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["next_price_forecast"],
                                   want["next_price_forecast"],
                                   rtol=1e-12)
