"""Flagship windowed dual-stream join, mapped onto the driver's `events`
table per FIXTURES.md §6: tweets-role = events with props as text,
prices-role = events with value as price, symbol = event_type. The two
roles take different (overlapping) subsets so the operator meets
tweet-only / price-only / both windows — the golden cases from the
reference's outer semantics (dataflow/stream_join.py:410-419).

The production operator keeps ``tweet_texts`` as array<string>
(terraform/storage.tf:160-165 declares it REPEATED); the oracle-checked
registry entry projects it as a unit-separator-joined string because the
driver's value-hash canonicalizer cannot hash list cells. NULL texts are
filtered explicitly on both sides (Spark collect_list drops NULLs,
DuckDB list() keeps them — pin the semantics rather than depend on the
data having none).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windowed_join import prices_with_tweets
from ._util import table

WINDOW = "30 minutes"
SEP = "\x1f"  # unit separator — never appears in the text payloads


def tweets_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (ev.filter((F.col("event_id") % 3 != 0) & F.col("props").isNotNull())
              .select(F.col("ts").alias("event_time"),
                      F.col("event_type").alias("symbol"),
                      F.col("props").alias("text")))


def prices_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (ev.filter(F.col("event_id") % 2 != 0)
              .select(F.col("ts").alias("event_time"),
                      F.col("event_type").alias("symbol"),
                      F.col("value").alias("price")))


def _hash_safe(df: DataFrame) -> DataFrame:
    """Oracle-checked form: hash-safe string encoding of the text list."""
    return df.select(
        "event_timestamp", "symbol", "tweet_volume", "avg_price", "last_price",
        F.array_join("tweet_texts", SEP).alias("tweet_texts"),
    )


def q_flagship_windowed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch layer's form: window-START stamp (batch_to_mongo.py:237)."""
    return _hash_safe(prices_with_tweets(
        tweets_role(spark, sf_dir), prices_role(spark, sf_dir),
        WINDOW, label="start"))


def q_flagship_speed_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The speed layer's form: window-END stamp (stream_join.py:407) —
    the same plan the streaming query runs, executed on batch inputs so
    the oracle can check it."""
    return _hash_safe(prices_with_tweets(
        tweets_role(spark, sf_dir), prices_role(spark, sf_dir),
        WINDOW, label="end"))


QUERIES = {
    "flagship_windowed_join": q_flagship_windowed_join,
    "flagship_speed_layer": q_flagship_speed_layer,
}

ORACLE = {
    "flagship_windowed_join": f"""
WITH tweets AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w,
         event_type AS symbol,
         COUNT(*) AS tweet_volume,
         list_sort(list(props)) AS tweet_texts
  FROM events WHERE event_id % 3 <> 0 AND props IS NOT NULL
  GROUP BY 1, 2
), prices AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w,
         event_type AS symbol,
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value)) AS avg_price,
         arg_max(value, ts) AS last_price
  FROM events WHERE event_id % 2 <> 0
  GROUP BY 1, 2
)
SELECT COALESCE(t.w, p.w) AS event_timestamp,
       COALESCE(t.symbol, p.symbol) AS symbol,
       COALESCE(t.tweet_volume, 0) AS tweet_volume,
       p.avg_price AS avg_price,
       p.last_price AS last_price,
       COALESCE(array_to_string(t.tweet_texts, chr(31)), '') AS tweet_texts
FROM tweets t
FULL OUTER JOIN prices p ON t.w = p.w AND t.symbol = p.symbol
""",
    "flagship_speed_layer": f"""
WITH tweets AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w,
         event_type AS symbol,
         COUNT(*) AS tweet_volume,
         list_sort(list(props)) AS tweet_texts
  FROM events WHERE event_id % 3 <> 0 AND props IS NOT NULL
  GROUP BY 1, 2
), prices AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w,
         event_type AS symbol,
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value)) AS avg_price,
         arg_max(value, ts) AS last_price
  FROM events WHERE event_id % 2 <> 0
  GROUP BY 1, 2
)
SELECT COALESCE(t.w, p.w) + INTERVAL '30 minutes' AS event_timestamp,
       COALESCE(t.symbol, p.symbol) AS symbol,
       COALESCE(t.tweet_volume, 0) AS tweet_volume,
       p.avg_price AS avg_price,
       p.last_price AS last_price,
       COALESCE(array_to_string(t.tweet_texts, chr(31)), '') AS tweet_texts
FROM tweets t
FULL OUTER JOIN prices p ON t.w = p.w AND t.symbol = p.symbol
""",
}
