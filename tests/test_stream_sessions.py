"""Streaming session windows (streaming/windowed.py:sessionize_stream):
gap-merge semantics, append emission on watermark, and parity with the
batch gap-flag sessionization."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_crypto_sentiment_spark.streaming.windowed import sessionize_stream

SCHEMA = "event_time timestamp, user_id long"
T0 = datetime(2024, 1, 1, 10, 0, 0)


def _t(sec):
    return T0 + timedelta(seconds=sec)


def _rows():
    return [
        (_t(0), 1), (_t(60), 1), (_t(240), 1),   # u1 session A (3 events)
        (_t(1200), 1),                           # u1 session B (gap 16 min)
        (_t(30), 2),                             # u2 single-event session
    ]


def test_stream_sessions_merge_and_flush(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1) \
         .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = sessionize_stream(stream, ("user_id",), gap="5 minutes")
    q = (out.writeStream.format("memory").queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start())
    try:
        q.processAllAvailable()
        # sentinel advances the watermark far past every open session
        spark.createDataFrame([(_t(90000), 99)], SCHEMA).coalesce(1) \
             .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table("sessions").collect()
    finally:
        q.stop()
    got = {(r.user_id, r.session_start, r.n_events) for r in rows}
    assert got == {
        (1, _t(0), 3),      # merged: 0s/60s/240s gaps all < 5 min
        (1, _t(1200), 1),
        (2, _t(30), 1),
    }
    # session end = last event + gap
    ends = {(r.user_id, r.session_start): r.session_end for r in rows}
    assert ends[(1, _t(0))] == _t(240 + 300)
    # the sentinel's own session is still open -> not emitted
    assert not any(r.user_id == 99 for r in rows)


def test_stream_sessions_match_batch_gap_flag(spark):
    """Same grouping as the batch cumulative gap-flag formulation."""
    df = spark.createDataFrame(_rows(), SCHEMA)
    sw = (df.groupBy(F.session_window("event_time", "5 minutes"), "user_id")
            .agg(F.count("*").alias("n")))
    w = Window.partitionBy("user_id").orderBy("event_time")
    gap = (F.unix_timestamp("event_time")
           - F.unix_timestamp(F.lag("event_time").over(w)))
    batch = (df.withColumn(
                "sid", F.sum(F.when(gap > 300, 1).otherwise(0)
                             .cast("long")).over(w))
               .groupBy("user_id", "sid").agg(F.count("*").alias("n")))
    assert (sorted((r.user_id, r.n) for r in sw.collect())
            == sorted((r.user_id, r.n) for r in batch.collect()))
