"""The batch-layer job (SURVEY.md §3.2 — terraform/scripts/
batch_to_mongo.py reborn): incrementally pick up new files, derive raw
tweets / raw prices / windowed joined metrics, and bulk-write three
sinks.

Spark-first translation of the reference's moving parts:
  * processed-file state (batch_to_mongo.py:22-57) → a Structured
    Streaming file source with `trigger(availableNow)` + checkpoint:
    each run drains exactly the files not seen by previous runs.
  * per-collection Mongo bulk writers (:262-291) → `bulk_jsonl`
    foreachPartition sinks (and parquet for the joined metrics).
  * the windowed metrics (:201-238) →
    operators.windowed_join.prices_with_tweets, the same operator the
    speed layer runs, at 30 min windows stamped with the window start.

Run: python -m big_data_crypto_sentiment_spark.jobs.batch_job \
       --in-dir <parquet events dir> --out-dir <sink root> \
       --checkpoint <state dir> [--window "30 minutes"]
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windowed_join import prices_with_tweets
from ..sinks import bulk_jsonl, write_warehouse


def split_roles(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """events → (tweets-role, prices-role), FIXTURES.md §6 mapping."""
    tweets = (events.filter(F.col("props").isNotNull())
              .select(F.col("ts").alias("event_time"),
                      F.col("event_type").alias("symbol"),
                      F.col("props").alias("text")))
    prices = (events.filter(F.col("value").isNotNull())
              .select(F.col("ts").alias("event_time"),
                      F.col("event_type").alias("symbol"),
                      F.col("value").alias("price")))
    return tweets, prices


def run_batch(spark: SparkSession, in_dir: str, out_dir: str,
              checkpoint: str, window: str = "30 minutes") -> None:
    """One cron tick: drain unseen files, write the three collections."""
    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()  # three consumers, one scan
        try:
            tweets, prices = split_roles(batch_df)
            # batch_id prefix: a replayed batch rewrites its own files
            # (idempotent), a new batch appends alongside (T9)
            bulk_jsonl(tweets, os.path.join(out_dir, "raw_batch_tweets"),
                       prefix=f"b{batch_id}-")
            bulk_jsonl(prices, os.path.join(out_dir, "raw_batch_prices"),
                       prefix=f"b{batch_id}-")
            joined = prices_with_tweets(tweets, prices, window,
                                        label="start", max_texts=1000)
            write_warehouse(joined,
                            os.path.join(out_dir, "batch_prices_with_tweets"),
                            date_col="event_timestamp", mode="append")
        finally:
            batch_df.unpersist()

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--window", default="30 minutes")
    args = ap.parse_args(argv)
    from ..session import get_spark
    spark = get_spark("batch-job")
    run_batch(spark, args.in_dir, args.out_dir, args.checkpoint, args.window)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
