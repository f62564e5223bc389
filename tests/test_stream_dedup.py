"""Streaming exact-dedup: duplicated upstream messages survive exactly
once downstream; watermark bounds the dedup state."""

from datetime import datetime

from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.streaming.windowed import dedupe_stream


def _t(m, s=0):
    return datetime(2024, 1, 1, 10, m, s)


def test_stream_dedup_within_watermark(spark, tmp_path):
    schema = "event_time timestamp, msg_id string, payload string"
    batch1 = spark.createDataFrame(
        [(_t(0), "a", "p1"), (_t(0, 10), "b", "p2"),
         (_t(0, 10), "b", "p2-dup-same-batch")], schema)
    batch2 = spark.createDataFrame(
        [(_t(0, 20), "a", "p1-dup-next-batch"),  # dup within horizon
         (_t(1), "c", "p3")], schema)
    src = str(tmp_path / "src")
    batch1.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(batch1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedupe_stream(stream, ("msg_id",), watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("deduped")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start())
    try:
        q.processAllAvailable()
        batch2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table("deduped").collect()
    finally:
        q.stop()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.msg_id, []).append(r.payload)
    # each message id exactly once, first arrival wins
    assert sorted(by_id) == ["a", "b", "c"]
    assert all(len(v) == 1 for v in by_id.values())
    assert by_id["a"] == ["p1"]
    assert by_id["b"] == ["p2"]
