"""The speed-layer job (SURVEY.md §3.1 — dataflow/stream_join.py
reborn): two input streams fan out to raw capture, per-record sentiment
enrichment, per-symbol online forecasts, and the watermarked windowed
join — five concurrent queries off shared upstreams, each with its own
checkpoint (T8).

The two stateful queries (online forecast, windowed join) keep one
state partition per shuffle partition, and AQE does not re-plan
streaming state, so the queries start with `spark.sql.shuffle.partitions`
at the session's default parallelism (its cores) instead of the
batch-sized session value. Spark records the count in each checkpoint's
offset log at first start and restores it on restart: an existing
checkpoint keeps the count it was created with.

Run: python -m big_data_crypto_sentiment_spark.jobs.speed_layer \
       --tweets-dir <dir> --prices-dir <dir> --out-dir <root> \
       [--model-bundle ar1.json] [--window "30 seconds"]
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession

from ..model_registry import broadcast_bundle, load_bundle, phi_by_symbol
from ..streaming.enrich import enrich_with_sentiment
from ..streaming.replay import replay_dir
from ..streaming.sinks import start_capture_sink, start_jsonl_sink
from ..streaming.stateful import online_forecast
from ..streaming.windowed import streaming_prices_with_tweets

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def start_speed_layer(spark: SparkSession, tweets_dir: str, prices_dir: str,
                      out_dir: str, window: str = "30 seconds",
                      watermark: str = "0 seconds",
                      model_bundle: str | None = None):
    """Start all five queries; returns them (caller awaits/stops).

    The queries start with `spark.sql.shuffle.partitions` at the
    session's default parallelism; the session's own value is restored
    before returning, and queries already started are stopped if a
    later one fails to start."""
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS,
                   str(spark.sparkContext.defaultParallelism))
    queries = []
    try:
        for q in _start_queries(spark, tweets_dir, prices_dir, out_dir,
                                window, watermark, model_bundle):
            queries.append(q)
    except BaseException:
        for q in queries:
            q.stop()
        raise
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)
    return queries


def _start_queries(spark, tweets_dir, prices_dir, out_dir, window,
                   watermark, model_bundle):
    """Start the five queries, yielding each as soon as it runs."""
    t_schema = spark.read.parquet(tweets_dir).schema
    p_schema = spark.read.parquet(prices_dir).schema
    tweets = replay_dir(spark, tweets_dir, t_schema)
    prices = replay_dir(spark, prices_dir, p_schema)

    phis = None
    if model_bundle:
        phis = broadcast_bundle(spark,
                                phi_by_symbol(load_bundle(model_bundle)))

    def ck(name):
        return os.path.join(out_dir, "_checkpoints", name)

    # raw capture of both streams (S3)
    yield start_capture_sink(
        tweets, os.path.join(out_dir, "raw_tweets"), ck("raw_tweets"))
    yield start_capture_sink(
        prices, os.path.join(out_dir, "raw_prices"), ck("raw_prices"))
    # per-tweet sentiment enrichment (T7/M1 path)
    yield start_jsonl_sink(
        enrich_with_sentiment(tweets),
        os.path.join(out_dir, "tweet_sentiment"), ck("tweet_sentiment"))
    # per-tick online forecast (T6/M2), phi from the trained bundle
    yield start_jsonl_sink(
        online_forecast(prices, phi_map=phis),
        os.path.join(out_dir, "price_forecasts"), ck("price_forecasts"))
    # windowed join (J1 union form) — append on watermark expiry (T3)
    joined = streaming_prices_with_tweets(tweets, prices,
                                          window_duration=window,
                                          watermark=watermark)
    yield (joined.writeStream.format("parquet")
           .option("path", os.path.join(out_dir, "prices_with_tweets"))
           .option("checkpointLocation", ck("prices_with_tweets"))
           .outputMode("append").trigger(availableNow=True).start())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tweets-dir", required=True)
    ap.add_argument("--prices-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--window", default="30 seconds")
    ap.add_argument("--model-bundle", default=None)
    args = ap.parse_args(argv)
    from ..session import get_spark
    spark = get_spark("speed-layer")
    for q in start_speed_layer(spark, args.tweets_dir, args.prices_dir,
                               args.out_dir, args.window,
                               model_bundle=args.model_bundle):
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
