"""Slowly-changing-dimension (Type 2) history build over the events
stream — the warehouse-side completion of the CDC family (upsert merge
lives in relational.py): compress each user's time-ordered event-type
stream into validity intervals [valid_from, valid_to) with a version
number and an is_current flag. No reference twin (the reference
pipeline has no dimension management); the shape is the standard
Kimball SCD2 build every warehouse team runs, expressed as two window
passes over ONE shuffle.

Spark-first plan:
  * one exchange keyed by user_id, one local sort by (ts, event_id) —
    the lag() change-detection pass and the lead()/row_number()
    interval pass share the identical window spec, and the filter
    between them preserves both partitioning and order, so Catalyst
    plans a single Exchange + single Sort feeding both Window nodes
    (verified on the formatted plan: no second exchange).
  * at 100 TB the shuffle key is user_id (high cardinality, uniform);
    per-user sequences are short, so no skew and no global sort. The
    output is O(state changes), a compression of the input — exactly
    why SCD2 exists.

Determinism: (ts, event_id) is a total order (event_id unique), so
consecutive-duplicate compression and interval bounds are engine-
independent; NULL user_id/ts/event_type rows are excluded on both
engines (NULL ordering and NULL != semantics would otherwise diverge
silently between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import session_artifact, table


def scd2_intervals(df: DataFrame, key: str, state: str,
                   ts: str, tiebreak: str) -> DataFrame:
    """Generic SCD2 builder: (key, version, state, valid_from,
    valid_to, is_current) with consecutive duplicate states collapsed
    (the no-op-update compression that makes SCD2 histories small)."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    changes = (df
               .withColumn("_prev", F.lag(state).over(w))
               .filter(F.col("_prev").isNull()
                       | (F.col("_prev") != F.col(state))))
    valid_to = F.lead(ts).over(w)
    return changes.select(
        F.col(key),
        F.row_number().over(w).cast("long").alias("version"),
        F.col(state).alias("state"),
        F.col(ts).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"))


# Session cache for the full-history dimension: THREE entries build
# the IDENTICAL scd2_intervals(all events) — scd2_user_state returns
# it, scd2_snapshot_at filters it, scd2_state_durations aggregates it —
# each paying the events scan + (user_id) window pass (r16, guide
# §1.2). Persisting the compressed interval table is exactly the
# materialized-dimension discipline SCD2 exists for: O(state changes),
# a compression of the input. A session artifact per (appId, sf_dir).
def _full_history_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ev = (table(spark, sf_dir, "events")
              .filter(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull()
                      & F.col("event_type").isNotNull())
              .select("user_id", "ts", "event_id", "event_type"))
        return scd2_intervals(
            ev, "user_id", "event_type", "ts", "event_id").persist()
    return session_artifact(spark, ("scd.full_history_dim", sf_dir), build)


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _full_history_dim(spark, sf_dir)  # O(state changes): unsorted


# --- point-in-time dimension lookup (the query SCD2 exists to answer):
#     enrich each fact row with the dimension state that was valid AT
#     the fact's timestamp. Spark-first: NOT a range join on
#     [valid_from, valid_to) — that plans as a nested-loop — but the
#     repo's as-of join (tag-union + one per-key window pass), which at
#     100 TB costs exactly one (user_id) shuffle over facts ∪ dim.
#     Same-ts state-change runs are disambiguated by dropping the
#     zero-length intervals the SCD2 build gives every superseded
#     same-timestamp version: exactly one dim row per (user,
#     valid_from) survives, so the as-of tie-pick is deterministic on
#     both engines. Facts before any dim row keep a NULL state (left
#     semantics). Fixture: dimension = click/purchase state changes,
#     facts = error events. ---
DIM_TYPES = ("click", "purchase")
FACT_TYPE = "error"


def scd2_lookup(facts: DataFrame, dim: DataFrame) -> DataFrame:
    """facts(event_id, user_id, ts) + the dim state valid at ts.
    dim: SCD2 intervals (user_id, version, state, valid_from, valid_to,
    is_current) from scd2_intervals."""
    from ..operators.asof_join import asof_join
    d = (dim.filter(F.col("valid_to").isNull()
                    | (F.col("valid_from") != F.col("valid_to")))
            .select("user_id", F.col("valid_from").alias("ts"), "state"))
    return asof_join(facts, d, "user_id", "ts", ("state",))


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()
                  & F.col("event_type").isNotNull())
          .select("user_id", "ts", "event_id", "event_type"))
    dim = scd2_intervals(ev.filter(F.col("event_type").isin(*DIM_TYPES)),
                         "user_id", "event_type", "ts", "event_id")
    facts = (ev.filter(F.col("event_type") == FACT_TYPE)
               .select("event_id", "user_id", "ts"))
    return scd2_lookup(facts, dim)  # O(facts): unsorted


# --- incremental SCD2 maintenance (the dimension's materialized-view
#     refresh, rollup_merge_incremental's precedent): merge a new batch
#     of events into an EXISTING dimension instead of rebuilding from
#     all history. Only users present in the batch rebuild — and they
#     rebuild from their COMPRESSED intervals (each interval replayed
#     as one pseudo-event), not from raw history, so the merge cost is
#     O(batch users' intervals + batch), never O(all events). Untouched
#     users pass through with a broadcast anti join.
#
#     Correctness contract (asserted by the oracle): merge ≡ full
#     rebuild whenever the batch is append-only per user — every new
#     event at or after the user's last seen ts (the watermark
#     discipline any streaming ingest already enforces). The
#     consecutive-duplicate compression is idempotent, so replaying
#     compressed intervals reproduces the original change sequence
#     exactly; version tiebreaks keep same-ts runs in original order.
#     The registered query splits events at a cutoff, builds the
#     dimension from the old half, merges the new half, and is
#     hash-checked against a DuckDB twin that rebuilds from scratch —
#     the hash equality IS the merge ≡ recompute proof. ---
SCD2_SPLIT = "2024-01-15"


def scd2_merge(dim: DataFrame, new_events: DataFrame, key: str,
               state: str, ts: str, tiebreak: str) -> DataFrame:
    """Merge an append-only event batch into an scd2_intervals output
    (same schema back)."""
    # No hard F.broadcast() hint: `affected` is the batch's distinct key
    # set, unbounded at scale (a 100-TB CDC batch can touch 1e8+ keys).
    # AQE broadcasts it when its runtime size is under the threshold and
    # degrades to a shuffled semi/anti join otherwise — a hard hint
    # would override the threshold and OOM instead.
    affected = new_events.select(F.col(key)).distinct()
    untouched = dim.join(affected, key, "left_anti")
    old_ev = (dim.join(affected, key, "left_semi")
                 .select(F.col(key),
                         F.col("valid_from").alias(ts),
                         F.col("version").alias(tiebreak),
                         F.col("state").alias(state)))
    new_ev = new_events.select(key, ts, tiebreak, state)
    rebuilt = scd2_intervals(old_ev.unionByName(new_ev),
                             key, state, ts, tiebreak)
    return untouched.unionByName(rebuilt)


def q_scd2_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()
                  & F.col("event_type").isNotNull())
          .select("user_id", "ts", "event_id", "event_type"))
    cut = F.lit(SCD2_SPLIT).cast("timestamp")
    # r16 (guide §1.2): scd2_merge references `base` twice (the
    # untouched anti-join AND the affected users' interval replay) —
    # without lineage truncation each reference re-ran the old-half
    # events scan + window pass. Non-eager localCheckpoint computes
    # the old dimension once (the curate keep_ids discipline).
    base = scd2_intervals(ev.filter(F.col("ts") < cut),
                          "user_id", "event_type", "ts", "event_id") \
        .localCheckpoint(eager=False)
    return scd2_merge(base, ev.filter(F.col("ts") >= cut),
                      "user_id", "event_type",
                      "ts", "event_id")  # O(state changes): unsorted


# --- the two read patterns the interval table serves besides the
#     per-fact lookup: AS-OF snapshot (state of EVERY key at one
#     instant — a pure interval filter, no join, no window) and
#     time-in-state durations (how long keys spend in each state —
#     exact integer microsecond sums over closed intervals; open
#     intervals have no end and are reported separately as a count). ---
SNAPSHOT_AT = "2024-01-20 00:00:00"


def scd2_snapshot_at(dim: DataFrame, at) -> DataFrame:
    """(user_id, state, since): every user's state at instant `at` —
    one map-side filter over the interval table (zero-length same-ts
    versions drop out of the half-open containment automatically)."""
    return (dim.filter((F.col("valid_from") <= at)
                       & (F.col("valid_to").isNull()
                          | (F.col("valid_to") > at)))
               .select("user_id", "state",
                       F.col("valid_from").alias("since")))


def q_scd2_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = _full_history_dim(spark, sf_dir)
    return scd2_snapshot_at(dim, F.lit(SNAPSHOT_AT).cast("timestamp"))
    # O(users): unsorted


def q_scd2_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(state, n_closed, total_us, n_open): exact integer time-in-state
    over closed intervals; open intervals counted, not timed."""
    dim = _full_history_dim(spark, sf_dir)
    dur = F.unix_micros("valid_to") - F.unix_micros("valid_from")
    return (dim.groupBy("state")
               .agg(F.count("valid_to").alias("n_closed"),
                    F.coalesce(F.sum(dur), F.lit(0)).cast("long")
                     .alias("total_us"),
                    F.count(F.when(F.col("valid_to").isNull(), 1))
                     .alias("n_open"))
               .orderBy("state"))  # bounded: one row per state


QUERIES = {
    "scd2_user_state": q_scd2_user_state,
    "scd2_point_in_time": q_scd2_point_in_time,
    "scd2_merge_incremental": q_scd2_merge_incremental,
    "scd2_snapshot_at": q_scd2_snapshot_at,
    "scd2_state_durations": q_scd2_state_durations,
}

ORACLE = {
    "scd2_user_state": """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
), chg AS (
  SELECT user_id, ts, event_id, event_type FROM seq
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       event_type AS state,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       CAST(LEAD(ts) OVER w IS NULL AS INT) AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    "scd2_point_in_time": f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
), seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM ev WHERE event_type IN {DIM_TYPES!r}
), chg AS (
  SELECT user_id, ts, event_id, event_type FROM seq
  WHERE prev IS NULL OR prev <> event_type
), dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM chg
), dim1 AS (
  SELECT user_id, valid_from AS ts, state FROM dim
  WHERE valid_to IS NULL OR valid_from <> valid_to
), facts AS (
  SELECT event_id, user_id, ts FROM ev
  WHERE event_type = '{FACT_TYPE}'
)
SELECT f.event_id, f.user_id, f.ts, d.state
FROM facts f ASOF LEFT JOIN dim1 d
  ON f.user_id = d.user_id AND f.ts >= d.ts
""",
}

# the incremental merge's oracle IS the from-scratch rebuild — hash
# equality proves merge ≡ recompute (rollup_merge_incremental precedent)
ORACLE["scd2_merge_incremental"] = ORACLE["scd2_user_state"]

_SQL_DIM = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
), chg AS (
  SELECT user_id, ts, event_id, event_type FROM seq
  WHERE prev IS NULL OR prev <> event_type
), dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM chg
)"""

ORACLE["scd2_snapshot_at"] = _SQL_DIM + f"""
SELECT user_id, state, valid_from AS since
FROM dim
WHERE valid_from <= TIMESTAMP '{SNAPSHOT_AT}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{SNAPSHOT_AT}')
"""

ORACLE["scd2_state_durations"] = _SQL_DIM + """
SELECT state,
       COUNT(valid_to) AS n_closed,
       CAST(COALESCE(SUM(epoch_us(valid_to) - epoch_us(valid_from)), 0)
            AS BIGINT) AS total_us,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open
FROM dim
GROUP BY state ORDER BY state
"""
