"""Behavioral analytics over the events stream: funnel conversion,
cohort retention, and the event-type transition matrix — the standard
product-analytics trio a warehouse team runs daily, each expressed as
one or two partial-combinable aggregations (no self-joins, no
driver-side loops) with an exact DuckDB oracle twin.

Spark-first shapes:
  * funnel_conversion — ordered-step funnel (click → purchase strictly
    after it) as ONE conditional agg per user: min(click ts) and
    min(purchase ts > first click) come from the same shuffle via a
    two-pass-free min(CASE) trick — the second step's bound is the
    user's first click, obtained from a per-user window in the same
    plan (no join of two aggregates).
  * cohort_retention — cohort = first-seen day; per (cohort_day,
    day_offset) distinct-user counts. Two hash aggs: first-seen per
    user (combinable min), then the (cohort, offset) rollup joined by
    broadcast of nothing — the cohort rides the row via a window-free
    groupBy-join on user_id (the only shuffle is keyed by user).
  * event_transitions — per-user lag(event_type) over ts, then a
    global (prev, cur) count: the Markov transition counts a sessions
    team reads. One per-user window pass + one tiny agg.

Timestamp math parity: day bucketing uses to_date / DATE_TRUNC on both
engines; offsets are exact integer day differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import session_artifact, table

FUNNEL_FIRST = "click"
FUNNEL_SECOND = "purchase"


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, first_click_ts, first_purchase_ts, converted,
    latency_us) for every user with >= 1 click; purchase must be
    STRICTLY after the first click (ordered-step semantics, not mere
    co-occurrence)."""
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_type"))
    w = Window.partitionBy("user_id")
    first_click = F.min(F.when(F.col("event_type") == FUNNEL_FIRST,
                               F.col("ts"))).over(w)
    with_fc = ev.withColumn("_fc", first_click).filter(
        F.col("_fc").isNotNull())
    agg = (with_fc.groupBy("user_id", "_fc")
           .agg(F.min(F.when((F.col("event_type") == FUNNEL_SECOND)
                             & (F.col("ts") > F.col("_fc")),
                             F.col("ts"))).alias("first_purchase_ts")))
    return agg.select(
        "user_id",
        F.col("_fc").alias("first_click_ts"),
        "first_purchase_ts",
        F.col("first_purchase_ts").isNotNull().cast("int")
         .alias("converted"),
        (F.unix_micros("first_purchase_ts") - F.unix_micros("_fc"))
        .cast("double").alias("latency_us"),
    )  # O(users with a click): unsorted


# Session artifact for the cohort retention triangle: cohort_retention
# returns it and cohort_retention_pct consumed it TWICE (the triangle
# plus its day-0 slice — Catalyst does not share the subtree), i.e.
# three events scans + first-seen joins + count_distinct aggs for one
# bounded days² grid (r16, guide §1.2). Persisted at its bounded grain,
# keyed (appId, sf_dir).
def _cohort_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ev = (table(spark, sf_dir, "events")
              .filter(F.col("user_id").isNotNull())
              .select("user_id", F.to_date("ts").alias("day")))
        first_seen = ev.groupBy("user_id").agg(
            F.min("day").alias("cohort_day"))
        return (
            ev.join(first_seen, "user_id")
              .select("user_id", "cohort_day",
                      F.datediff("day", "cohort_day").alias("day_offset"))
              .groupBy("cohort_day", "day_offset")
              .agg(F.count_distinct("user_id").alias("n_users"))
              # ISO string: DATE columns round-trip as datetime64 in one
              # engine's pandas and date objects in the other's
              .select(F.col("cohort_day").cast("string")
                       .alias("cohort_day"), "day_offset", "n_users")
              .persist())
    return session_artifact(spark, ("behavior.cohort_triangle", sf_dir),
                            build)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_day, day_offset, n_users): distinct users from each
    first-seen-day cohort active again `day_offset` days later. The
    classic retention triangle."""
    return (_cohort_triangle(spark, sf_dir)
            .orderBy("cohort_day", "day_offset"))  # bounded: days²


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev_type, cur_type, n): Markov transition counts over each
    user's time-ordered event sequence (ties broken by event_id so the
    sequence is total-ordered and engine-independent)."""
    # NULL ts would sort NULLS FIRST here but NULLS LAST in the DuckDB
    # twin's LAG ordering — excluded on both engines
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
          .select("user_id", "ts", "event_id", "event_type"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("prev_type", F.lag("event_type").over(w))
              .filter(F.col("prev_type").isNotNull())
              .groupBy("prev_type", F.col("event_type").alias("cur_type"))
              .agg(F.count("*").alias("n"))
              .orderBy("prev_type", "cur_type"))  # bounded: types²


# --- incremental rollup maintenance (the materialized-view refresh
#     discipline): merge yesterday's stored daily rollup with today's
#     delta partition instead of recomputing history. Correct exactly
#     when every measure is a MERGEABLE PARTIAL (sums/counts add;
#     min/max combine; the HLL family in approx.py merges) — the query
#     computes base-rollup ∪ delta-rollup → one merge agg, while the
#     DuckDB twin recomputes the rollup from scratch over all events:
#     the driver's hash equality IS the merge ≡ recompute proof. Value
#     sums ride the repo's exact decimal(27,6) convention so merge
#     order cannot perturb the double. ---
ROLLUP_SPLIT_DAY = "2024-01-15"


def _day_rollup(ev: DataFrame) -> DataFrame:
    return (ev.groupBy(F.to_date("ts").cast("string").alias("day"),
                       "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(27,6)"))
                    .alias("_sv")))


def q_rollup_merge_incremental(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    # NULL-ts rows are unpartitionable by day — dropped explicitly on
    # BOTH engines, else base/delta lose them while a from-scratch
    # rollup emits a NULL-day group and merge != recompute
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull())
          .select("ts", "event_type", "value"))
    base = _day_rollup(ev.filter(F.to_date("ts")
                                 < F.lit(ROLLUP_SPLIT_DAY).cast("date")))
    delta = _day_rollup(ev.filter(F.to_date("ts")
                                  >= F.lit(ROLLUP_SPLIT_DAY).cast("date")))
    return (base.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("_sv").cast("double").alias("sum_value"))
            .orderBy("day", "event_type"))  # bounded: days × types


# --- event debounce / throttle: suppress a (user, type) event arriving
#     within DEBOUNCE_MIN of the PREVIOUS event of that key — telemetry
#     hygiene for double-fires and retry storms (gap-based form: the
#     suppression window restarts at every event, which is one lag()
#     over the (user, type) sort; the alternative anchored-at-last-KEPT
#     form needs a running-state scan — sessionize's is_new machinery —
#     and is deliberately NOT this operator). One exchange keyed by
#     (user_id, event_type). ---
DEBOUNCE_MIN = 10


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
          .select("event_id", "user_id", "event_type", "ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (ev.withColumn("_gap", gap_us)
              .filter(F.col("_gap").isNull()
                      | (F.col("_gap") > DEBOUNCE_MIN * 60 * 1_000_000))
              .select("event_id", "user_id", "event_type",
                      "ts"))  # O(kept): unsorted


# --- percent-of-total contribution: each type's share of its day's
#     events — the BI "contribution analysis" shape: one grouped count,
#     then a window sum over the day partition (day cardinality is
#     bounded, the window input is the aggregated grid, never raw
#     events). Share = exact integer counts in one double division. ---
def q_type_share_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull()))
    daily = (ev.groupBy(F.to_date("ts").cast("string").alias("day"),
                        "event_type")
               .agg(F.count("*").alias("n")))
    tot = F.sum("n").over(Window.partitionBy("day"))
    return (daily.select("day", "event_type", "n",
                         (F.col("n").cast("double") / tot.cast("double"))
                         .alias("share"))
                 .orderBy("day", "event_type"))  # bounded: days × types


# --- normalized retention curve: the cohort triangle as percentages of
#     each cohort's day-0 size (what analysts actually read). The day-0
#     sizes are one tiny slice of the triangle itself, broadcast back —
#     never a second scan of events. ---
def q_cohort_retention_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = _cohort_triangle(spark, sf_dir)
    base = (tri.filter(F.col("day_offset") == 0)
               .select("cohort_day", F.col("n_users").alias("size0")))
    return (tri.join(F.broadcast(base), "cohort_day")
               .select("cohort_day", "day_offset", "n_users", "size0",
                       (F.col("n_users").cast("double")
                        / F.col("size0").cast("double")).alias("retained"))
               .orderBy("cohort_day", "day_offset"))  # bounded: days²


# --- market-basket co-occurrence with lift: which event types appear
#     together in the same (user, day) basket more often than chance —
#     the association-rule primitive behind "users who X also Y".
#     Scale shape: reduce to DISTINCT basket memberships first (one
#     hash agg), then the within-basket self-join is bounded by
#     |types|² per basket, never events²; the per-type totals broadcast.
#     lift = (n_ab·N)/(n_a·n_b) as ONE division of exact integer
#     products (no rounding step); N is a bounded driver scalar. ---
def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()))
    # r16 (guide §1.2): the distinct basket frame feeds FOUR consumers
    # (the basket count, the per-type totals, and both self-join sides)
    # and was recomputed — events scan + distinct shuffle — for each. A
    # non-eager localCheckpoint (materialized by the n_baskets count,
    # the curate keep_ids discipline) computes it once.
    b = (ev.select("user_id", F.to_date("ts").alias("day"), "event_type")
           .distinct().localCheckpoint(eager=False))
    n_baskets = b.select("user_id", "day").distinct().count()
    na = b.groupBy("event_type").agg(F.count("*").alias("n"))
    left = b.select("user_id", "day", F.col("event_type").alias("type_a"))
    right = b.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (left.join(right, ["user_id", "day"])
                 .filter(F.col("type_a") < F.col("type_b"))
                 .groupBy("type_a", "type_b")
                 .agg(F.count("*").alias("n_ab")))
    lift = ((F.col("n_ab") * F.lit(n_baskets)).cast("double")
            / (F.col("na") * F.col("nb")).cast("double"))
    return (pairs
            .join(F.broadcast(na.select(F.col("event_type").alias("type_a"),
                                        F.col("n").alias("na"))), "type_a")
            .join(F.broadcast(na.select(F.col("event_type").alias("type_b"),
                                        F.col("n").alias("nb"))), "type_b")
            .select("type_a", "type_b", "n_ab", "na", "nb", lift.alias("lift"))
            .orderBy("type_a", "type_b"))  # bounded: types²


# --- N-step ordered funnel (the 2-step operator's generalization):
#     first time of step k STRICTLY after the user's first time of step
#     k-1 — chained window minima over ONE (user) exchange: each step's
#     conditional min references the previous step's column, so
#     Catalyst plans N Window nodes over a single Exchange + Sort (no
#     self-joins, no N aggregations). Output: per-user step timestamps
#     + funnel depth reached. ---
FUNNEL_STEPS = ("click", "view", "purchase")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_type"))
    w = Window.partitionBy("user_id")
    out = ev
    prev_col = None
    for i, step in enumerate(FUNNEL_STEPS, start=1):
        cond = F.col("event_type") == step
        if prev_col is not None:
            cond = cond & (F.col("ts") > F.col(prev_col))
        out = out.withColumn(f"step{i}_ts",
                             F.min(F.when(cond, F.col("ts"))).over(w))
        prev_col = f"step{i}_ts"
    depth = sum(
        F.col(f"step{i}_ts").isNotNull().cast("int")
        for i in range(1, len(FUNNEL_STEPS) + 1))
    step_cols = [f"step{i}_ts" for i in range(1, len(FUNNEL_STEPS) + 1)]
    return (out.filter(F.col("step1_ts").isNotNull())
               .select("user_id", *step_cols)
               .distinct()  # window cols are constant per user
               .withColumn("depth", depth))  # O(users with step1): unsorted


# --- late-data backfill (the OTHER incremental-maintenance case):
#     rollup_merge handles APPEND-ONLY deltas by merging partials, but
#     late-arriving rows land in day partitions the base rollup already
#     covers — partials can't just union (the group exists on both
#     sides... they can for sums, but NOT for non-decomposable measures
#     like the count_distinct a real rollup often carries). The general
#     discipline, implemented here: find the AFFECTED (day, type)
#     groups from the late batch (tiny, broadcast), drop them from the
#     stored rollup (broadcast anti join — untouched groups never
#     recompute), recompute ONLY those groups from the raw events
#     semi-joined to the affected keys (at scale: partition-pruned to
#     the affected days), and union back. The oracle recomputes the
#     whole rollup from scratch — hash equality proves backfill ≡
#     recompute, including the count_distinct measure that partial
#     merging could not maintain. The late slice is a deterministic
#     event_id hash sample (arrival order is not ts order — exactly why
#     this case exists). ---
LATE_PCT = 3


def _full_rollup(ev: DataFrame) -> DataFrame:
    return (ev.groupBy(F.to_date("ts").cast("string").alias("day"),
                       "event_type")
              .agg(F.count("*").alias("n"),
                   F.count_distinct("user_id").alias("n_users"),
                   F.sum(F.col("value").cast("decimal(27,6)"))
                    .cast("double").alias("sum_value")))


def rollup_backfill(base_rollup: DataFrame, all_events: DataFrame,
                    late: DataFrame) -> DataFrame:
    """Fold a late batch into a stored rollup by recomputing only the
    groups the batch touches. all_events = the raw store AFTER the late
    rows landed (at scale: read partition-pruned to affected days)."""
    affected = (late.select(F.to_date("ts").cast("string").alias("day"),
                            "event_type")
                    .distinct())
    untouched = base_rollup.join(F.broadcast(affected),
                                 ["day", "event_type"], "left_anti")
    rebuilt = _full_rollup(
        all_events
        .withColumn("day", F.to_date("ts").cast("string"))
        .join(F.broadcast(affected), ["day", "event_type"], "left_semi")
        .drop("day"))
    return untouched.unionByName(rebuilt)


def q_rollup_backfill_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import _hash_bucket
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull())
          .select("event_id", "ts", "event_type", "user_id", "value"))
    is_late = _hash_bucket(F.col("event_id"), 100) < LATE_PCT
    base = _full_rollup(ev.filter(~is_late))
    return (rollup_backfill(base, ev, ev.filter(is_late))
            .orderBy("day", "event_type"))  # bounded: days × types


QUERIES = {
    "type_cooccurrence": q_type_cooccurrence,
    "event_debounce": q_event_debounce,
    "type_share_daily": q_type_share_daily,
    "cohort_retention_pct": q_cohort_retention_pct,
    "funnel_steps": q_funnel_steps,
    "rollup_backfill_late": q_rollup_backfill_late,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "event_transitions": q_event_transitions,
    "rollup_merge_incremental": q_rollup_merge_incremental,
}

def _oracle_rollup() -> str:
    from ._util import sql_dsum
    return f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM events WHERE ts IS NOT NULL
GROUP BY day, event_type
ORDER BY day, event_type
"""


def _oracle_backfill() -> str:
    # from-scratch recompute — hash equality proves backfill ≡ recompute
    from ._util import sql_dsum
    return f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS sum_value
FROM events WHERE ts IS NOT NULL
GROUP BY day, event_type
ORDER BY day, event_type
"""


ORACLE = {
    "type_cooccurrence": """
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), nb AS (
  SELECT COUNT(*) AS n_baskets
  FROM (SELECT DISTINCT user_id, day FROM b)
), na AS (
  SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type
), pairs AS (
  SELECT l.event_type AS type_a, r.event_type AS type_b,
         COUNT(*) AS n_ab
  FROM b l JOIN b r
    ON l.user_id = r.user_id AND l.day = r.day
   AND l.event_type < r.event_type
  GROUP BY type_a, type_b
)
SELECT p.type_a, p.type_b, p.n_ab, a.n AS na, c.n AS nb,
       CAST(p.n_ab * x.n_baskets AS DOUBLE)
         / CAST(a.n * c.n AS DOUBLE) AS lift
FROM pairs p
JOIN na a ON p.type_a = a.event_type
JOIN na c ON p.type_b = c.event_type
CROSS JOIN nb x
ORDER BY type_a, type_b
""",
    "event_debounce": f"""
WITH s AS (
  SELECT event_id, user_id, event_type, ts,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts, event_id)) AS gap
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT event_id, user_id, event_type, ts
FROM s WHERE gap IS NULL OR gap > {DEBOUNCE_MIN * 60 * 1_000_000}
""",
    "type_share_daily": """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
         COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY day, event_type
)
SELECT day, event_type, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY day) AS DOUBLE) AS share
FROM daily ORDER BY day, event_type
""",
    "cohort_retention_pct": """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL
), fs AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
), tri AS (
  SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
         CAST(e.day - f.cohort_day AS INT) AS day_offset,
         COUNT(DISTINCT e.user_id) AS n_users
  FROM ev e JOIN fs f ON e.user_id = f.user_id
  GROUP BY f.cohort_day, day_offset
), base AS (
  SELECT cohort_day, n_users AS size0 FROM tri WHERE day_offset = 0
)
SELECT t.cohort_day, t.day_offset, t.n_users, b.size0,
       CAST(t.n_users AS DOUBLE) / CAST(b.size0 AS DOUBLE) AS retained
FROM tri t JOIN base b USING (cohort_day)
ORDER BY cohort_day, day_offset
""",
    "funnel_steps": f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM events WHERE user_id IS NOT NULL
), s1 AS (
  SELECT *, MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END)
              OVER (PARTITION BY user_id) AS step1_ts
  FROM ev
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = '{FUNNEL_STEPS[1]}'
                      AND ts > step1_ts THEN ts END)
              OVER (PARTITION BY user_id) AS step2_ts
  FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN event_type = '{FUNNEL_STEPS[2]}'
                      AND ts > step2_ts THEN ts END)
              OVER (PARTITION BY user_id) AS step3_ts
  FROM s2
)
SELECT DISTINCT user_id, step1_ts, step2_ts, step3_ts,
       CAST(step1_ts IS NOT NULL AS INT)
         + CAST(step2_ts IS NOT NULL AS INT)
         + CAST(step3_ts IS NOT NULL AS INT) AS depth
FROM s3 WHERE step1_ts IS NOT NULL
""",
    "rollup_backfill_late": _oracle_backfill(),
    "rollup_merge_incremental": _oracle_rollup(),
    "funnel_conversion": f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM events WHERE user_id IS NOT NULL
), fc AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{FUNNEL_FIRST}' THEN ts END)
           AS first_click_ts
  FROM ev GROUP BY user_id
), agg AS (
  SELECT e.user_id, f.first_click_ts,
         MIN(CASE WHEN e.event_type = '{FUNNEL_SECOND}'
                   AND e.ts > f.first_click_ts THEN e.ts END)
           AS first_purchase_ts
  FROM ev e JOIN fc f ON e.user_id = f.user_id
  WHERE f.first_click_ts IS NOT NULL
  GROUP BY e.user_id, f.first_click_ts
)
SELECT user_id, first_click_ts, first_purchase_ts,
       CAST(first_purchase_ts IS NOT NULL AS INT) AS converted,
       CAST(epoch_us(first_purchase_ts) - epoch_us(first_click_ts)
            AS DOUBLE) AS latency_us
FROM agg
""",
    "cohort_retention": """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL
), fs AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
       CAST(e.day - f.cohort_day AS INT) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM ev e JOIN fs f ON e.user_id = f.user_id
GROUP BY f.cohort_day, day_offset
ORDER BY cohort_day, day_offset
""",
    "event_transitions": """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, cur_type
ORDER BY prev_type, cur_type
""",
}
