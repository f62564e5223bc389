"""Hopping (sliding) event-time windows
(streaming/windowed.py:hopping_window_counts): overlap membership,
append emission on watermark, and streaming ≡ batch parity on the same
replayed rows."""

from datetime import datetime, timedelta

from big_data_crypto_sentiment_spark.streaming.windowed import hopping_window_counts

SCHEMA = "event_time timestamp, symbol string"
T0 = datetime(2024, 1, 1, 10, 0, 0)


def _t(sec):
    return T0 + timedelta(seconds=sec)


def _rows():
    # BTC events at 0s, 30s, 90s; ETH at 150s
    return [(_t(0), "BTC"), (_t(30), "BTC"), (_t(90), "BTC"),
            (_t(150), "ETH")]


def test_hopping_windows_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1) \
         .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = hopping_window_counts(stream, ("symbol",),
                                window="2 minutes", slide="1 minute")
    q = (out.writeStream.format("memory").queryName("hopping")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start())
    try:
        q.processAllAvailable()
        # sentinel advances the watermark past every open window
        spark.createDataFrame([(_t(90000), "ZZZ")], SCHEMA).coalesce(1) \
             .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = [r for r in spark.table("hopping").collect()
                if r.symbol != "ZZZ"]
    finally:
        q.stop()
    got = {(r.window_start, r.symbol): r.n_events for r in rows}
    # each event belongs to window/slide = 2 overlapping windows
    assert got == {
        (_t(-60), "BTC"): 2,   # covers [-60, 60): events at 0, 30
        (_t(0), "BTC"): 3,     # covers [0, 120): 0, 30, 90
        (_t(60), "BTC"): 1,    # covers [60, 180): 90
        (_t(60), "ETH"): 1,    # 150
        (_t(120), "ETH"): 1,
    }
    # batch parity: same operator on a batch frame, same rows
    batch = hopping_window_counts(
        spark.createDataFrame(_rows(), SCHEMA), ("symbol",),
        window="2 minutes", slide="1 minute")
    bgot = {(r.window_start, r.symbol): r.n_events for r in batch.collect()}
    assert bgot == got
