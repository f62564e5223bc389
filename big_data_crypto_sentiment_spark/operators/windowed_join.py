"""The flagship operator: per-(window, symbol) metrics over both streams.

Reference semantics (J1/J2 + A1-A4 in SURVEY.md §2.3/§2.4):
  * speed layer — both streams into 30 s fixed windows, CoGroupByKey on
    symbol, per (window, symbol) emit tweet_volume / tweet_texts /
    avg_price / last_price with OUTER semantics (either side may be
    empty → zeros / empty lists): dataflow/stream_join.py:401-428,479-524
  * batch layer — the same metrics at 30 min granularity:
    terraform/scripts/batch_to_mongo.py:201-238

One operator serves both layers, batch and streaming inputs alike.
Beam's CoGroupByKey groups BOTH streams per (window, symbol) in one
shuffle; the closest Spark plan is union-then-aggregate (SURVEY.md §7
"hard" #2): tag each stream's rows into a common schema, union, and run
ONE windowed aggregation whose conditional aggregates compute the
per-side metrics. One shuffle, one state store when streaming, and the
outer semantics (tweet-only / price-only windows) fall out of the
conditional aggregates. No UDFs — the whole plan stays inside
WholeStageCodegen.

`last_price` is the price of the latest non-NULL price tick — the argmax
the speed layer does by sorting each window (stream_join.py:412-414) and
the batch layer does with max(struct(event_time, price))
(batch_to_mongo.py:218-226), as a single-pass `max_by`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prices_with_tweets(tweets: DataFrame, prices: DataFrame,
                       window_duration: str, label: str,
                       watermark: str | None = None,
                       max_texts: int | None = None) -> DataFrame:
    """One windowed aggregation over the tagged union of both streams.

    Inputs: tweets (event_time, symbol, text), prices (event_time,
    symbol, price). ``label``: which window edge becomes
    ``event_timestamp`` — the speed layer stamps window *end*
    (stream_join.py:407), the batch layer window *start*
    (batch_to_mongo.py:237), a real reference inconsistency (SURVEY.md
    §2.9 T5). Pass ``watermark`` (e.g. "0 seconds") for streaming
    inputs: append output emits a window once the watermark passes its
    end (T3/T4).

    ``max_texts`` caps the sorted text list — at 100 TB an unbounded
    collect_list per window is the one reference construct that cannot
    scale (SURVEY.md §7 "hard" #3); production callers pass a cap.
    ``avg_price`` is an exact decimal sum divided by the count, so it
    is bit-identical across engines and partitionings.

    Missing-side semantics from stream_join.py:410-419: no tweets →
    volume 0 + empty list; no prices → NULL avg/last.
    """
    u = (tweets.select("event_time", "symbol", "text",
                       F.lit(None).cast("double").alias("price"))
         .unionByName(prices.select(
             "event_time", "symbol",
             F.lit(None).cast("string").alias("text"), "price")))
    if watermark is not None:
        u = u.withWatermark("event_time", watermark)
    texts = F.sort_array(F.collect_list("text"))  # collect_list skips NULLs
    if max_texts is not None:
        texts = F.slice(texts, 1, max_texts)
    avg_price = (F.sum(F.col("price").cast("decimal(27,6)")).cast("double")
                 / F.count("price"))
    agg = (u.groupBy(F.window("event_time", window_duration).alias("w"),
                     "symbol")
            .agg(F.count("text").alias("tweet_volume"),
                 texts.alias("tweet_texts"),
                 avg_price.alias("avg_price"),
                 # ordering key is NULL for tweet rows → max_by ignores them
                 F.max_by("price",
                          F.when(F.col("price").isNotNull(),
                                 F.col("event_time"))).alias("last_price")))
    edge = F.col("w.end") if label == "end" else F.col("w.start")
    return agg.select(
        edge.alias("event_timestamp"), "symbol",
        "tweet_volume", "avg_price", "last_price", "tweet_texts")
