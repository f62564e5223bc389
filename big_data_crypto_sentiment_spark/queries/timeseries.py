"""Time-series / analytic-window queries (SURVEY.md §2.5 W1-W5, §2.4
A7/A8/A11) over the driver `events` table, symbol-role = event_type.

These are the reference's EDA + ARIMA-prep primitives re-expressed as
Spark window functions and windowed aggregates:
  * per-symbol diff / pct_change / lead-target — eda
    Data_Minions_EDA_Milestone3.ipynb cells 40,46,52;
    Milestone4 cells 8,10 (lag features, next-bin target)
  * time-bucket resample counts — Milestone3 cells 20-21
  * resample-last + forward-fill onto a fixed grid —
    analytical_module/arima.py:229-235 (.resample("30S").last().ffill())
  * volume↔price Pearson correlation + lag-sweep cross-correlation —
    Milestone3 cells 44,54-58; Milestone4 cell 13

Scale notes: every window function partitions by symbol — at 100 TB the
shuffle key is (symbol), and each partition sorts locally by (ts,
event_id); no global sort anywhere. The forward-fill spine is generated
per symbol with `sequence()` (rows ∝ symbols × buckets, not input rows).
Derived ratios are left as single IEEE ops on identical inputs (bit-exact
across engines); correlations are round()ed to 6 on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import session_artifact, table

BUCKET = "1 hour"
LAG_SWEEP = tuple(range(-24, 25))  # k ∈ [-24, 24], the reference's sweep
# width (eda/Data_Minions_EDA_Milestone4.ipynb cell 13) — still ONE window
# pass producing all 49 shifted columns + one stack, not 49 self-joins


def _w():
    # per-symbol event order: (ts, event_id) is a deterministic total order
    return Window.partitionBy("event_type").orderBy("ts", "event_id")


# --- W1 + W2 + W3: per-symbol diff / pct_change / lead-target in ONE
#     window pass (a single (symbol) shuffle + local sort computes every
#     lag/lead column — the plan you want at 100 TB instead of three
#     separate scans; zero-denominator → NULL on both engines) ---
def q_ts_window_calcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    prev = F.lag("value").over(_w())
    nxt = F.lead("value").over(_w())
    return ev.select(
        "event_id", "event_type", "ts", "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("diff"),
        ((F.col("value") - prev) / F.nullif(prev, F.lit(0.0))).alias("pct_change"),
        nxt.alias("next_value"),
        ((nxt - F.col("value")) / F.nullif(F.col("value"), F.lit(0.0)))
        .alias("next_ret"),
    )


# --- A7 + W4: time-bucket counts with lagged volume feature ---
def q_ts_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    binned = (ev.groupBy(F.window("ts", BUCKET).alias("w"), "event_type")
                .agg(F.count("*").alias("n_events")))
    wb = Window.partitionBy("event_type").orderBy("bucket")
    return (binned.select(F.col("w.start").alias("bucket"), "event_type", "n_events")
                  .withColumn("prev_n_events", F.lag("n_events").over(wb)))


# --- A8: resample-last + forward-fill onto a per-symbol sequence() spine ---
def q_ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    last_per_bucket = (
        ev.filter(F.col("value").isNotNull())
          .groupBy(F.window("ts", BUCKET).alias("w"), "event_type")
          .agg(F.max_by("value", F.struct("ts", "event_id")).alias("last_value"))
          .select(F.col("w.start").alias("bucket"), "event_type", "last_value")
    )
    spine = (
        last_per_bucket.groupBy("event_type")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select("event_type",
                F.explode(F.sequence("mn", "mx", F.expr(f"INTERVAL {BUCKET}")))
                 .alias("bucket"))
    )
    wb = (Window.partitionBy("event_type").orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (spine.join(last_per_bucket, ["event_type", "bucket"], "left")
                 .select("event_type", "bucket",
                         F.last("last_value", ignorenulls=True).over(wb)
                          .alias("value_ffill")))


# --- A8 extension: resample-last + LINEAR INTERPOLATION onto the same
#     per-symbol spine (pandas .interpolate() / TimescaleDB interpolate
#     — the gap-fill a price series wants where ffill introduces a
#     staircase bias). Same scale shape as the ffill form: the spine is
#     symbols × buckets (never input rows), and the four neighbor
#     lookups (prev/next value + their buckets) come from TWO frames
#     over ONE (symbol) sort — Catalyst plans a single Exchange + Sort
#     feeding both Window nodes. Fraction math: exact integer
#     micro-epoch differences, one double division, one fused
#     a+(b-a)*t expression — identical trees on both engines; the
#     interpolated branch is round()ed to 6, observed values pass
#     through untouched. Spine endpoints are observed buckets, so
#     interior gaps always have both neighbors; the edge coalesce is
#     belt-and-braces only. ---
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    last_per_bucket = (
        ev.filter(F.col("value").isNotNull())
          .groupBy(F.window("ts", BUCKET).alias("w"), "event_type")
          .agg(F.max_by("value", F.struct("ts", "event_id")).alias("last_value"))
          .select(F.col("w.start").alias("bucket"), "event_type", "last_value")
    )
    spine = (
        last_per_bucket.groupBy("event_type")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select("event_type",
                F.explode(F.sequence("mn", "mx", F.expr(f"INTERVAL {BUCKET}")))
                 .alias("bucket"))
    )
    wp = (Window.partitionBy("event_type").orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy("event_type").orderBy("bucket")
                .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_bucket = F.when(F.col("last_value").isNotNull(), F.col("bucket"))
    grid = (spine.join(last_per_bucket, ["event_type", "bucket"], "left")
            .select("event_type", "bucket", "last_value",
                    F.last("last_value", ignorenulls=True).over(wp).alias("_pv"),
                    F.last(obs_bucket, ignorenulls=True).over(wp).alias("_pb"),
                    F.first("last_value", ignorenulls=True).over(wn).alias("_nv"),
                    F.first(obs_bucket, ignorenulls=True).over(wn).alias("_nb")))
    frac = ((F.unix_micros("bucket") - F.unix_micros("_pb")).cast("double")
            / (F.unix_micros("_nb") - F.unix_micros("_pb")).cast("double"))
    interp = F.round(F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac, 6)
    value_interp = (
        F.when(F.col("last_value").isNotNull(), F.col("last_value"))
         .when(F.col("_pv").isNull(), F.col("_nv"))
         .when(F.col("_nv").isNull(), F.col("_pv"))
         .otherwise(interp))
    return grid.select(
        "event_type", "bucket",
        value_interp.alias("value_interp"),
        F.col("last_value").isNull().cast("int").alias("is_interpolated"))


# The hourly bucket-metrics grid is a session artifact — FOUR
# registered entries consume the IDENTICAL frame (ts_corr, ts_spearman,
# ts_lag_sweep_corr, ml_ridge_perm_importance via _ridge_perm_base) and
# each was re-running the full events scan + bucket hash agg + spine
# join (r16, guide §1.2: remove redundant passes). The grid is bounded
# (|event_types| × |hour buckets|), so persisting it is metadata-sized
# at any corpus scale; keyed by the input plan's semanticHash() like
# dedup's span grams.
def _bucket_metrics(ev: DataFrame) -> DataFrame:
    """Contiguous per-symbol grid of (n_events, avg_value) per bucket —
    the joined volume/price frame the EDA correlates (Milestone3 cell 44).
    Missing buckets get n_events=0 / avg NULL, matching a resampled
    pandas frame."""
    return session_artifact(
        ev.sparkSession, ("timeseries.bucket_metrics", ev.semanticHash()),
        lambda: _build_bucket_metrics(ev))


def _build_bucket_metrics(ev: DataFrame) -> DataFrame:
    binned = (ev.groupBy(F.window("ts", BUCKET).alias("w"), "event_type")
                .agg(F.count("*").alias("n_events"),
                     (F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
                      / F.count("value")).alias("avg_value"))
                .select(F.col("w.start").alias("bucket"), "event_type",
                        "n_events", "avg_value"))
    spine = (binned.groupBy("event_type")
                   .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
                   .select("event_type",
                           F.explode(F.sequence("mn", "mx",
                                                F.expr(f"INTERVAL {BUCKET}")))
                            .alias("bucket")))
    return (spine.join(binned, ["event_type", "bucket"], "left")
                 .select("event_type", "bucket",
                         F.coalesce("n_events", F.lit(0)).alias("n_events"),
                         "avg_value")
                 .persist())


# --- A11: Pearson correlation volume vs price per symbol ---
def q_ts_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (_bucket_metrics(ev)
            .groupBy("event_type")
            .agg(F.round(F.corr("n_events", "avg_value"), 6).alias("corr_vol_price")))


# --- A11b: Spearman rank correlation volume vs price per symbol —
# the outlier-robust complement of Pearson ts_corr (price spikes that
# dominate a Pearson estimate only move one rank step here). Ranks are
# average-of-ties (the classical treatment: rank + (ties-1)/2, exact
# .5 multiples, so the rank columns are engine-portable by
# construction) computed in per-symbol window passes — the groupBy key
# co-partitions with the windows, so ranking and the final corr share
# ONE shuffle per rank column, never a global sort. ---
def spearman(m: DataFrame, key: str, x: str, y: str,
             out_col: str = "spearman") -> DataFrame:
    """Per-key Spearman rho of columns x, y (rows with NULLs excluded)."""
    m = m.filter(F.col(x).isNotNull() & F.col(y).isNotNull())

    def avg_rank(col):
        r = F.rank().over(Window.partitionBy(key).orderBy(col))
        c = F.count("*").over(Window.partitionBy(key, col))
        return r + (c - F.lit(1)) / 2.0

    ranked = m.select(key, avg_rank(F.col(x)).alias("rx"),
                      avg_rank(F.col(y)).alias("ry"))
    return (ranked.groupBy(key)
                  .agg(F.round(F.corr("rx", "ry"), 6).alias(out_col),
                       F.count("*").alias("n_buckets")))


def q_ts_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return spearman(_bucket_metrics(ev), "event_type",
                    "n_events", "avg_value",
                    out_col="spearman_vol_price")


# --- W5: lag-sweep cross-correlation corr(x.shift(k), y) for k ∈ sweep ---
def q_ts_lag_sweep_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = _bucket_metrics(ev)
    wb = Window.partitionBy("event_type").orderBy("bucket")
    # one window pass producing every shifted column, then unpivot — a
    # single shuffle instead of |sweep| self-joins
    def _name(k: int) -> str:
        return f"x_{'m' if k < 0 else 'p'}{abs(k)}"

    shifted = m.select(
        "event_type", "bucket", "avg_value",
        *[(F.lag("n_events", k).over(wb) if k >= 0
           else F.lead("n_events", -k).over(wb)).alias(_name(k))
          for k in LAG_SWEEP],
    )
    stack_expr = "stack({n}, {args}) AS (k, x)".format(
        n=len(LAG_SWEEP),
        args=", ".join(f"{k}, {_name(k)}" for k in LAG_SWEEP))
    long = shifted.select("event_type", "avg_value", F.expr(stack_expr))
    return (long.groupBy("event_type", "k")
                .agg(F.round(F.corr("x", "avg_value"), 6).alias("xcorr")))


# --- trailing time-RANGE window aggregate: activity in the last hour at
# each event (range frame over epoch seconds — the "tweets in the last
# N minutes at every tick" enrichment; row frames can't express it when
# event spacing is irregular) ---
def q_ts_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = (Window.partitionBy("event_type").orderBy(epoch.cast("long"))
               .rangeBetween(-3600, 0))
    return (ev.filter(F.col("value").isNotNull())
              .select("event_id", "event_type", "ts",
                      F.count("*").over(w).alias("n_last_hour"),
                      (F.sum(F.col("value").cast("decimal(27,6)")).over(w)
                        .cast("double") / F.count("value").over(w))
                      .alias("avg_last_hour")))


# --- trailing-window DISTINCT counts (rolling active users): distinct
#     is NOT sum-decomposable, so the windowed-sum trick above cannot
#     compute it. Scale shape: contribution expansion — reduce to
#     distinct (type, hour, user) first (one hash agg), then each
#     active (hour, user) contributes to the TRAIL_HOURS window-ends it
#     belongs to (bounded 6× explode of the already-aggregated rows,
#     never of raw events), then one count_distinct keyed by (type,
#     end). Window-ends with no event in their own hour are not
#     emitted (semi join against the observed-hour spine) — same
#     convention both engines. The approximate scale path for very
#     long trails is the mergeable-HLL family in approx.py (merge
#     hourly sketches instead of exploding); this operator is the
#     exact twin. ---
TRAIL_HOURS = 6


def q_ts_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
          .select("event_type", F.date_trunc("hour", "ts").alias("hr"),
                  "user_id"))
    # r16 (guide §1.2): tri feeds both the window-end explode and the
    # observed-hour spine — a non-eager localCheckpoint computes the
    # distinct (type, hour, user) reduction once instead of per branch
    tri = ev.distinct().localCheckpoint(eager=False)
    hours = tri.select("event_type", "hr").distinct()
    ends = tri.select(
        "event_type", "user_id",
        F.explode(F.sequence(
            F.col("hr"),
            F.col("hr") + F.expr(f"INTERVAL {TRAIL_HOURS - 1} HOURS"),
            F.expr("INTERVAL 1 HOUR"))).alias("window_end"))
    return (ends.join(hours.withColumnRenamed("hr", "window_end"),
                      ["event_type", "window_end"], "left_semi")
                .groupBy("event_type", "window_end")
                .agg(F.count_distinct("user_id").alias("n_active_users"))
                .orderBy("event_type", "window_end"))  # bounded: types × hours


# --- full CUBE over (symbol, day): all four grouping sets in one pass
#     (rollup's lattice completion — adds the per-day-across-symbols
#     slice rollup omits). grouping_id() disambiguates a NULL data key
#     from a NULL produced by the cube totals — the correctness nuance
#     any grouping-sets consumer needs; identical GROUPING() arithmetic
#     on both engines. Same scale shape as rollup: Spark expands to the
#     grouping-set union before ONE partial-combined hash agg. ---
def q_ts_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    return (ev.filter(F.col("value").isNotNull())
              .cube(F.col("event_type"), day)
              .agg(F.grouping_id().cast("int").alias("gid"),
                   F.count("*").alias("n"),
                   (F.sum(F.col("value").cast("decimal(27,6)"))
                     .cast("double") / F.count("value")).alias("avg_value"))
              .select("event_type", "day", "gid",
                      "n", "avg_value"))  # bounded: (types+1)(days+1)


# --- multi-granularity rollup: per (symbol, day) with day and grand
# totals — the hypertable-rollup shape (GROUPING SETS via rollup) ---
def q_ts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    return (ev.filter(F.col("value").isNotNull())
              .rollup(F.col("event_type"), day)
              .agg(F.count("*").alias("n"),
                   (F.sum(F.col("value").cast("decimal(27,6)"))
                     .cast("double") / F.count("value")).alias("avg_value"))
              .select("event_type", "day", "n", "avg_value"))


# --- gap-based sessionization: cumulative-sum-of-boundaries per user —
# the training-data session/conversation assembly primitive (one
# shuffle on user_id; two window passes, no self-join) ---
SESSION_GAP_MIN = 30


def _sessionized(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap_sec.isNull()
                    | (gap_sec > SESSION_GAP_MIN * 60), 1).otherwise(0)
    return (ev.select("event_id", "user_id", "ts", "event_type",
                      is_new.alias("is_new"))
              .withColumn("session_id",
                          F.sum("is_new").over(
                              w.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)))
              .drop("is_new"))


def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sessionized(table(spark, sf_dir, "events"))


def q_ts_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _sessionized(table(spark, sf_dir, "events"))
    return (s.groupBy("user_id", "session_id")
             .agg(F.count("*").alias("n_events"),
                  F.min("ts").alias("session_start"),
                  (F.unix_timestamp(F.max("ts"))
                   - F.unix_timestamp(F.min("ts"))).alias("duration_sec")))


# --- seasonal-baseline anomaly detection: the monitoring op a metrics
#     team runs — fit the hour-of-day mean profile per event_type (the
#     seasonal-naive baseline), then surface the observations deviating
#     most from their seasonal slot. Plan shape: one bounded hash agg
#     (types × 24 rows), profile BROADCAST back, residual per row with
#     zero extra shuffle, bounded global top-k. Float parity: the
#     baseline is an exact decimal sum ÷ count (identical double both
#     engines), the residual a single subtraction, so ranking is
#     engine-independent; round(6) on output only. ---
ANOMALY_TOP_K = 20


def q_ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_id", "event_type", "value",
                  F.hour("ts").alias("hr")))
    base = (ev.groupBy("event_type", "hr")
              .agg((F.sum(F.col("value").cast("decimal(27,6)"))
                     .cast("double") / F.count("value"))
                   .alias("baseline")))
    resid = F.col("value") - F.col("baseline")
    return (ev.join(F.broadcast(base), ["event_type", "hr"])
              .select("event_id", "event_type", "hr", "value",
                      F.col("baseline").alias("_b"), resid.alias("_r"))
              .orderBy(F.abs(F.col("_r")).desc(), "event_id")
              .limit(ANOMALY_TOP_K)
              .select("event_id", "event_type", "hr", "value",
                      F.round("_b", 6).alias("baseline"),
                      F.round("_r", 6).alias("residual")))  # bounded


QUERIES = {
    "ts_seasonal_anomaly": q_ts_seasonal_anomaly,
    "ts_sessionize": q_ts_sessionize,
    "ts_session_stats": q_ts_session_stats,
    "ts_trailing_hour": q_ts_trailing_hour,
    "ts_trailing_distinct": q_ts_trailing_distinct,
    "ts_rollup": q_ts_rollup,
    "ts_cube": q_ts_cube,
    "ts_window_calcs": q_ts_window_calcs,
    "ts_bucket_counts": q_ts_bucket_counts,
    "ts_resample_ffill": q_ts_resample_ffill,
    "ts_interpolate": q_ts_interpolate,
    "ts_corr": q_ts_corr,
    "ts_spearman": q_ts_spearman,
    "ts_lag_sweep_corr": q_ts_lag_sweep_corr,
}

_SQL_BUCKET_METRICS = """
binned AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         COUNT(*) AS n_events,
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value)) AS avg_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
        FROM binned GROUP BY event_type)
), grid AS (
  SELECT s.event_type, s.bucket,
         COALESCE(b.n_events, 0) AS n_events, b.avg_value
  FROM spine s LEFT JOIN binned b
    ON s.event_type = b.event_type AND s.bucket = b.bucket
)
"""

_SQL_SESSIONIZED = f"""
s AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) > {SESSION_GAP_MIN * 60}
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM s
)
"""

ORACLE = {
    "ts_seasonal_anomaly": f"""
WITH ev AS (
  SELECT event_id, event_type, value,
         EXTRACT(hour FROM ts) AS hr
  FROM events WHERE value IS NOT NULL
), base AS (
  SELECT event_type, hr,
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
          / COUNT(value)) AS baseline
  FROM ev GROUP BY event_type, hr
), joined AS (
  SELECT e.event_id, e.event_type, e.hr, e.value,
         b.baseline, e.value - b.baseline AS _r
  FROM ev e JOIN base b
    ON e.event_type = b.event_type AND e.hr = b.hr
)
SELECT event_id, event_type, CAST(hr AS INT) AS hr, value,
       ROUND(baseline, 6) AS baseline, ROUND(_r, 6) AS residual
FROM joined ORDER BY ABS(_r) DESC, event_id LIMIT {ANOMALY_TOP_K}
""",
    "ts_sessionize": f"""
WITH {_SQL_SESSIONIZED}
SELECT event_id, user_id, ts, event_type, session_id FROM sess
""",
    "ts_session_stats": f"""
WITH {_SQL_SESSIONIZED}
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec
FROM sess GROUP BY user_id, session_id
""",
    "ts_trailing_hour": """
SELECT event_id, event_type, ts,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS avg_last_hour
FROM events WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
    "ts_rollup": """
SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events WHERE value IS NOT NULL
GROUP BY ROLLUP (event_type, date_trunc('day', ts))
""",
    "ts_window_calcs": """
SELECT event_id, event_type, ts, value,
       LAG(value) OVER w AS prev_value,
       value - LAG(value) OVER w AS diff,
       (value - LAG(value) OVER w) / NULLIF(LAG(value) OVER w, 0.0) AS pct_change,
       LEAD(value) OVER w AS next_value,
       (LEAD(value) OVER w - value) / NULLIF(value, 0.0) AS next_ret
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
""",
    "ts_bucket_counts": """
WITH binned AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT bucket, event_type, n_events,
       LAG(n_events) OVER (PARTITION BY event_type ORDER BY bucket) AS prev_n_events
FROM binned
""",
    "ts_resample_ffill": """
WITH b AS (
  SELECT bucket, event_type, value AS last_value FROM (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL)
  WHERE rn = 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY event_type)
)
SELECT s.event_type, s.bucket,
       last_value(b.last_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
""",
    # GROUPING() arithmetic matches Spark's grouping_id bit order
    # (event_type is the high bit)
    "ts_cube": """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(2 * GROUPING(event_type)
            + GROUPING(date_trunc('day', ts)) AS INT) AS gid,
       COUNT(*) AS n,
       (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value))
         AS avg_value
FROM events WHERE value IS NOT NULL
GROUP BY CUBE (event_type, date_trunc('day', ts))
""",
    # contribution expansion over distinct (type, hour, user) triples,
    # window-ends restricted to observed hours — mirrors the Spark plan
    "ts_trailing_distinct": f"""
WITH tri AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hr, user_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), hours AS (
  SELECT DISTINCT event_type, hr FROM tri
), ends AS (
  SELECT event_type, user_id,
         hr + unnest(range(0, {TRAIL_HOURS})) * INTERVAL 1 HOUR
           AS window_end
  FROM tri
)
SELECT e.event_type, e.window_end,
       COUNT(DISTINCT e.user_id) AS n_active_users
FROM ends e SEMI JOIN hours h
  ON e.event_type = h.event_type AND e.window_end = h.hr
GROUP BY e.event_type, e.window_end
ORDER BY e.event_type, e.window_end
""",
    # same b/spine CTEs as the ffill twin; neighbor lookups via framed
    # IGNORE NULLS window reads, fraction from exact micro-epoch ints
    "ts_interpolate": """
WITH b AS (
  SELECT bucket, event_type, value AS last_value FROM (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL)
  WHERE rn = 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY event_type)
), grid AS (
  SELECT s.event_type, s.bucket, b.last_value,
         last_value(b.last_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN b.last_value IS NOT NULL THEN s.bucket END
                    IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         first_value(b.last_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN b.last_value IS NOT NULL THEN s.bucket END
                     IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
)
SELECT event_type, bucket,
       CASE WHEN last_value IS NOT NULL THEN last_value
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE ROUND(pv + (nv - pv)
                       * (CAST(epoch_us(bucket) - epoch_us(pb) AS DOUBLE)
                          / CAST(epoch_us(nb) - epoch_us(pb) AS DOUBLE)), 6)
       END AS value_interp,
       CAST(last_value IS NULL AS INT) AS is_interpolated
FROM grid
""",
    "ts_corr": f"""
WITH {_SQL_BUCKET_METRICS}
SELECT event_type, ROUND(corr(n_events, avg_value), 6) AS corr_vol_price
FROM grid GROUP BY event_type
""",
    "ts_spearman": f"""
WITH {_SQL_BUCKET_METRICS},
nn AS (SELECT * FROM grid WHERE avg_value IS NOT NULL),
ranked AS (
  SELECT event_type,
         RANK() OVER (PARTITION BY event_type ORDER BY n_events)
           + (COUNT(*) OVER (PARTITION BY event_type, n_events) - 1) / 2.0
           AS rx,
         RANK() OVER (PARTITION BY event_type ORDER BY avg_value)
           + (COUNT(*) OVER (PARTITION BY event_type, avg_value) - 1) / 2.0
           AS ry
  FROM nn
)
SELECT event_type, ROUND(corr(rx, ry), 6) AS spearman_vol_price,
       COUNT(*) AS n_buckets
FROM ranked GROUP BY event_type
""",
    "ts_lag_sweep_corr": f"""
WITH {_SQL_BUCKET_METRICS},
shifted AS (
""" + "\n  UNION ALL\n".join(
        f"""  SELECT event_type, {k} AS k,
         {'LAG' if k >= 0 else 'LEAD'}(n_events, {abs(k)})
           OVER (PARTITION BY event_type ORDER BY bucket) AS x,
         avg_value
  FROM grid"""
        for k in LAG_SWEEP) + """
)
SELECT event_type, k, ROUND(corr(x, avg_value), 6) AS xcorr
FROM shifted GROUP BY event_type, k
""",
}
