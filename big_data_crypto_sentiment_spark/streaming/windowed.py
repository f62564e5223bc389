"""Event-time streaming operators: watermarked dedup, session windows,
hopping windows and the stream-stream interval join.

The J1 speed-layer operator (dataflow/stream_join.py:479-524), the
per-(window, symbol) metrics over both streams, is
operators.windowed_join.prices_with_tweets: one function for the batch
and the speed layer, batch and streaming inputs alike.

Event-time semantics (T1-T4):
  * event time = the `event_time` column; `withWatermark` bounds state
    and late data (T1/T4; Beam's default allowed-lateness 0 ≙ a small
    delay here, configurable).
  * tumbling, session and sliding windows via `window()` /
    `session_window()` (T2).
  * append output emits once the watermark passes the window end —
    Beam's default trigger (T3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_stream(df: DataFrame, key_cols: tuple[str, ...],
                  ts_col: str = "event_time",
                  watermark: str = "30 seconds") -> DataFrame:
    """Streaming exact-dedup: drop repeated (key) rows within the
    watermark horizon — the at-least-once-source complement to the T9
    idempotent sinks (a replayed/duplicated upstream message survives
    exactly once downstream). State is bounded by the watermark: keys
    older than the horizon are evicted, so memory is O(arrival rate ×
    horizon), not O(stream length)."""
    return (df.withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark(list(key_cols)))


def sessionize_stream(df: DataFrame, keys: tuple[str, ...],
                      ts_col: str = "event_time",
                      gap: str = "5 minutes",
                      watermark: str = "0 seconds") -> DataFrame:
    """Streaming session windows: events per key merge while consecutive
    gaps stay under `gap`; a session closes (and emits, append mode)
    once the watermark passes its end. The streaming twin of the batch
    gap-flag sessionization (queries/timeseries.py:_sessionized) — same
    merge semantics, so the two are parity-testable on replayed input.

    State is one open session per active key — bounded by key
    cardinality × gap horizon, NOT by stream length; Spark's native
    session_window state store handles merge-on-arrival (no
    applyInPandasWithState needed for plain gap sessions)."""
    return (df.withWatermark(ts_col, watermark)
              .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                       *keys)
              .agg(F.count("*").alias("n_events"),
                   F.max(ts_col).alias("last_event"))
              .select(*keys,
                      F.col("sw.start").alias("session_start"),
                      F.col("sw.end").alias("session_end"),
                      "n_events", "last_event"))


def hopping_window_counts(df: DataFrame, keys: tuple[str, ...],
                          ts_col: str = "event_time",
                          window: str = "2 minutes",
                          slide: str = "1 minute",
                          watermark: str = "0 seconds") -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    window/slide overlapping windows, emitted (append) once the
    watermark passes each window's end — the T2 tumbling operator's
    overlapping sibling (Beam `SlidingWindows`; a 1-min-sliding 2-min
    count is the standard streaming rate monitor).

    Scale/state note: state is one row per (open window × key); an
    event contributes to window/slide windows, so state and shuffle
    volume scale by that overlap factor — choose slide accordingly
    (window/slide is typically 2-4). Works unchanged on batch frames
    (the parity test replays the same rows both ways)."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(F.window(ts_col, window, slide).alias("w"), *keys)
              .agg(F.count("*").alias("n_events"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      *keys, "n_events"))


def stream_stream_interval_join(
        tweets: DataFrame, prices: DataFrame,
        tolerance: str = "30 seconds",
        watermark: str = "0 seconds",
        how: str = "inner") -> DataFrame:
    """TRUE stream-stream inner join (two state stores): each tweet
    paired with every price tick of the same symbol within ±tolerance
    of its event time — the streaming twin of the batch bucketized
    time_tolerance_join (operators/interval_join.py), and the join-form
    alternative to the union-then-aggregate prices_with_tweets in
    operators/windowed_join.py (use this when per-PAIR rows are the
    product, not per-window aggregates).

    Scale/state semantics: both sides are watermarked and the join
    condition bounds price_time to a closed interval around tweet_time,
    so Spark derives state-eviction watermarks for BOTH stores — each
    holds only ~(watermark + tolerance) of data per side, independent
    of stream length. Without the time-range predicate the state would
    grow forever; that predicate is what makes a stream-stream join
    production-safe (T1/T4 discipline applied to J-family).

    `how="leftOuter"` keeps tweets with no price inside the tolerance:
    the outer (NULL-price) row for a tweet emits only once the
    watermark passes tweet_time + tolerance — before that, a matching
    price could still arrive, so the row sits in state. That
    delayed-emission rule is the stream-correct analog of a batch left
    join, and what the left-outer pytest exercises. `how="fullOuter"`
    additionally keeps price ticks no tweet referenced (audit form:
    nothing from either feed is dropped); the output `symbol` is
    coalesced across sides since either may be the missing one.

    The same function runs on batch DataFrames (withWatermark is a
    no-op there), which is how the parity test pins it to the
    bucketized batch implementation."""
    t = tweets.select(F.col("symbol").alias("t_symbol"),
                      F.col("event_time").alias("tweet_time"), "text") \
              .withWatermark("tweet_time", watermark)
    p = prices.select(F.col("symbol").alias("p_symbol"),
                      F.col("event_time").alias("price_time"), "price") \
              .withWatermark("price_time", watermark)
    tol = F.expr(f"INTERVAL {tolerance}")
    cond = ((F.col("t_symbol") == F.col("p_symbol"))
            & (F.col("price_time") >= F.col("tweet_time") - tol)
            & (F.col("price_time") <= F.col("tweet_time") + tol))
    return (t.join(p, cond, how)
             .select(F.coalesce("t_symbol", "p_symbol").alias("symbol"),
                     "tweet_time", "text", "price_time", "price"))

