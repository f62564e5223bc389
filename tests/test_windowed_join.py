"""windowed_join operator edge cases (ADVICE r1): tweet-only /
price-only / both windows, both label edges, the max_texts cap, and a
NULL-priced latest tick — on tiny in-memory frames where every expected
value is hand-computable."""

from datetime import datetime

import pytest

from big_data_crypto_sentiment_spark.operators.windowed_join import (
    prices_with_tweets,
)


def _ts(minute, second=0):
    return datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture(scope="module")
def frames(spark):
    # window 1 (10:00): ETH tweets+prices; window 2 (10:00): SOL price only
    # window 3 (10:30): ETH tweets only; window 1's latest ETH tick
    # (10:22) carries a NULL price
    tweets = spark.createDataFrame(
        [(_ts(5), "ETH", "t1"), (_ts(10), "ETH", "t2"),
         (_ts(40), "ETH", "late1"), (_ts(45), "ETH", "late2"),
         (_ts(50), "ETH", "late3")],
        ["event_time", "symbol", "text"])
    prices = spark.createDataFrame(
        [(_ts(5), "ETH", 2700.0), (_ts(20), "ETH", 2710.0),
         (_ts(22), "ETH", None), (_ts(25, 30), "SOL", 127.0)],
        "event_time timestamp, symbol string, price double")
    return tweets, prices


def _rows(df):
    return {(r.event_timestamp, r.symbol): r for r in df.collect()}


def test_outer_semantics_all_three_window_kinds(frames):
    tweets, prices = frames
    out = _rows(prices_with_tweets(tweets, prices, "30 minutes", "start"))
    both = out[(_ts(0), "ETH")]
    assert both.tweet_volume == 2
    assert both.tweet_texts == ["t1", "t2"]
    assert both.avg_price == 2705.0  # the NULL tick is not averaged
    # the latest NON-NULL price, as DuckDB's arg_max(value, ts) gives
    assert both.last_price == 2710.0
    price_only = out[(_ts(0), "SOL")]
    assert price_only.tweet_volume == 0 and price_only.tweet_texts == []
    assert price_only.avg_price == 127.0
    tweet_only = out[(_ts(30), "ETH")]
    assert tweet_only.tweet_volume == 3
    assert tweet_only.avg_price is None and tweet_only.last_price is None


def test_label_edges(frames):
    tweets, prices = frames
    start = prices_with_tweets(tweets, prices, "30 minutes", label="start")
    end = prices_with_tweets(tweets, prices, "30 minutes", label="end")
    s = {r.event_timestamp for r in start.collect()}
    e = {r.event_timestamp for r in end.collect()}
    assert s == {_ts(0), _ts(30)}
    assert e == {_ts(30), datetime(2024, 1, 1, 11, 0)}


def test_max_texts_cap(frames):
    tweets, prices = frames
    capped = prices_with_tweets(tweets, prices, "30 minutes", "start",
                                max_texts=2)
    r = _rows(capped)[(_ts(30), "ETH")]
    assert r.tweet_volume == 3           # volume counts everything…
    assert r.tweet_texts == ["late1", "late2"]  # …list capped after sort


def test_empty_sides(spark, frames):
    tweets, prices = frames
    empty_t = spark.createDataFrame([], "event_time timestamp, symbol string, text string")
    out = _rows(prices_with_tweets(empty_t, prices, "30 minutes", "start"))
    assert all(r.tweet_volume == 0 and r.tweet_texts == []
               for r in out.values())
    empty_p = spark.createDataFrame([], "event_time timestamp, symbol string, price double")
    out2 = _rows(prices_with_tweets(tweets, empty_p, "30 minutes", "start"))
    assert all(r.avg_price is None and r.last_price is None
               for r in out2.values())

