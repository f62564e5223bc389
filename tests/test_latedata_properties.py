"""T4 late-data semantics with an out-of-order replay, and
property-based 'coercion never throws' tests (SURVEY.md §5 item 4)."""

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.operators.windowed_join import (
    prices_with_tweets,
)


def _ts(minute, second=0):
    return datetime(2024, 1, 1, 10, minute, second)


def test_late_record_dropped_after_watermark_passes(spark, tmp_path):
    """A record whose window the watermark has already closed must be
    dropped in append mode (Beam's allowed-lateness-0 default, T4):
    chunk 1 carries late-morning data, chunk 2 delivers an EARLIER
    record — its window is long closed by then."""
    t_dir = str(tmp_path / "tweets")
    schema = "event_time timestamp, symbol string, text string"
    on_time = spark.createDataFrame(
        [(_ts(0, 10), "ETH", "w1-t1"), (_ts(0, 20), "ETH", "w1-t2"),
         (_ts(40), "ETH", "w2-t1")], schema)
    late = spark.createDataFrame([(_ts(0, 25), "ETH", "w1-LATE")], schema)
    on_time.coalesce(1).write.mode("append").parquet(t_dir)
    # empty price side, same schema shape
    prices = spark.createDataFrame(
        [], "event_time timestamp, symbol string, price double")
    p_dir = str(tmp_path / "prices")
    prices.write.parquet(p_dir)

    t_stream = spark.readStream.schema(on_time.schema).parquet(t_dir)
    p_stream = spark.readStream.schema(prices.schema).parquet(p_dir)
    out = prices_with_tweets(t_stream, p_stream, "30 minutes", label="start",
                             watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("late_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start())
    try:
        # batch 1: on-time data only → watermark advances to 10:40,
        # closing and emitting window 10:00
        q.processAllAvailable()
        # now the straggler arrives — its window is already closed
        late.coalesce(1).write.mode("append").parquet(t_dir)
        q.processAllAvailable()
        rows = {r.event_timestamp: r for r in spark.table("late_test").collect()}
    finally:
        q.stop()
    # window 10:00 was emitted when the watermark (10:40) passed its end;
    # the late w1-LATE record must NOT have produced an update
    w1 = rows[_ts(0)]
    assert w1.tweet_volume == 2
    assert "w1-LATE" not in w1.tweet_texts


def test_bootstrap_session_for_property_test(spark):
    """Runs first in this file so an active session exists for the
    @given test below (hypothesis forbids function-scoped fixtures)."""
    assert spark.range(1).count() == 1


@given(st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=30),
        st.from_regex(r"[0-9]{1,18}", fullmatch=True),
        st.from_regex(r"-?[0-9]{1,10}\.[0-9]{1,6}", fullmatch=True),
    ),
    min_size=1, max_size=25))
@settings(max_examples=12, deadline=None)
def test_try_cast_coercion_never_throws(mixed):
    """Any string (or null) must coerce to long/double/timestamp as a
    value or NULL — never an exception (stream_join.py:64-79 semantics)."""
    from pyspark.sql import SparkSession
    # reuses the session the bootstrap test created (getActiveSession is
    # thread-local and unreliable under pytest)
    spark = SparkSession.builder.getOrCreate()
    from big_data_crypto_sentiment_spark.sources.tweets_json import clamp_ts
    df = spark.createDataFrame([(v,) for v in mixed], "s string")
    out = df.select(
        F.col("s").try_cast("long").alias("l"),
        F.col("s").try_cast("double").alias("d"),
        # clamp_ts guards the year-0 parse ("0000") that crashes Python
        # datetime conversion at collect time — found by this very test
        clamp_ts(F.try_to_timestamp("s")).alias("t"),
    ).collect()
    # reaching here without raising is the property; row count preserved
    assert len(out) == len(mixed)
