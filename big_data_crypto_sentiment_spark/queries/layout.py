"""Data-layout queries: at-rest layouts whose payoff is reading LESS.

* Z-order (Morton) clustering key, oracle-checked as exact integer
  math. The layout WRITER built on this key
  (`operators/zorder.py:write_zordered`) is a sink — its data-skipping
  payoff is pinned by tests/test_zorder.py (parquet footer-stats
  pruning vs a hash layout); the query hash-checks the key
  construction itself (quantization + bit interleave) against DuckDB
  at all SFs.
* Date-partitioned warehouse scan (the reference's BigQuery
  day-partitioning + clustering, terraform/storage.tf:81-88,117-122):
  events written `partitionBy(date)` via sinks.write_warehouse, read
  back with a day filter that Catalyst turns into PartitionFilters —
  directory-level pruning, so files outside the day are never LISTED
  into the scan, let alone read. At 100 TB this is the difference
  between scanning a day and scanning the archive; the oracle twin
  proves the partitioned roundtrip is lossless, and
  tests/test_partition_prune.py pins the plan + pruned file set.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.zorder import ZORDER_BITS, quantize, sql_zorder_key, zorder_key
from ._util import SessionDir, session_artifact, sql_dsum, table


# --- date-partitioned warehouse: build-once artifact per fixture ---

PRUNE_DAY = "2024-01-15"


def events_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Date-partitioned copy of events (date=YYYY-MM-DD/ dirs), built
    once per SESSION per events fixture, committed by atomic rename so
    a crashed build leaves only an invisible tmp dir and a concurrent
    builder loses the rename race harmlessly.

    r17 (VERDICT r16 #4 "what's wrong"): reuse is scoped to ONE Spark
    session — the dir name carries applicationId, so every bench /
    oracle run rebuilds from the parquet input and the
    `artifact:events_warehouse` entry times the real build instead of
    ~0 after the first-ever run. The previous cross-RUN reuse (keyed
    only on the fixture's name/size/mtime) was precomputation keyed on
    the test data — outside the bench rules. The fixture fingerprint
    stays in the key so a regenerated fixture can never alias a stale
    dir even within a session.

    The dir is a session artifact: clear_session_caches() removes it
    from disk, and so does interpreter exit. Only this session's dir is
    ever removed — another session (a concurrent bench or test run)
    may still be reading its own."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    # full-resolution mtime: with int(st_mtime) a fixture regenerated
    # at the same byte size within the same second would silently reuse
    # the stale warehouse within a session
    key = (spark.sparkContext.applicationId,
           os.path.basename(os.path.normpath(sf_dir)),
           st.st_size, st.st_mtime_ns)
    root = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"))
    dest = os.path.join(root, "events_{}_{}_{}_{}".format(*key))

    def build() -> SessionDir:
        if not os.path.isdir(dest):
            from ..sinks import write_warehouse
            os.makedirs(root, exist_ok=True)
            tmp = os.path.join(root, f"_tmp_{uuid.uuid4().hex[:8]}")
            write_warehouse(table(spark, sf_dir, "events"), tmp,
                            date_col="ts", rebalance=True)
            try:
                os.rename(tmp, dest)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        atexit.register(shutil.rmtree, dest, ignore_errors=True)
        return SessionDir(dest)
    # dest carries the whole key (and the root), so it is the key; a
    # dir removed behind the store's back is rebuilt in place
    session_artifact(spark, ("layout.events_warehouse", dest), build)
    if not os.path.isdir(dest):
        build()
    return dest


def q_warehouse_prune_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day's per-type rollup off the PARTITIONED layout: the
    date literal lands in the scan's PartitionFilters (directory
    pruning), so only date=PRUNE_DAY files are listed/read. The
    oracle computes the same rollup from the unpartitioned source —
    hash equality proves the partitioned roundtrip lost nothing."""
    wh = events_warehouse(spark, sf_dir)
    df = (spark.read.parquet(wh)
          .filter(F.col("date") == F.to_date(F.lit(PRUNE_DAY))))
    return (df.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.count_distinct("user_id").alias("users"),
                   F.sum(F.col("value").cast("decimal(27,6)"))
                    .cast("double").alias("value_sum")))


def q_zorder_key_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, l_linenumber, qx, qy, zkey) — the clustering key a
    z-ordered rewrite of lineitem on (extendedprice, quantity) sorts
    by. Stats agg broadcast back as a one-row cross join (the same
    shape both engines plan as a scalar subquery / broadcast)."""
    li = (table(spark, sf_dir, "lineitem")
          .filter(F.col("l_extendedprice").isNotNull()
                  & F.col("l_quantity").isNotNull())
          .select("l_orderkey", "l_linenumber",
                  "l_extendedprice", "l_quantity"))
    stats = li.agg(F.min("l_extendedprice").alias("xmn"),
                   F.max("l_extendedprice").alias("xmx"),
                   F.min("l_quantity").alias("ymn"),
                   F.max("l_quantity").alias("ymx"))
    qx = quantize(F.col("l_extendedprice"), F.col("xmn"), F.col("xmx"))
    qy = quantize(F.col("l_quantity"), F.col("ymn"), F.col("ymx"))
    return (li.crossJoin(F.broadcast(stats))
              .select("l_orderkey", "l_linenumber",
                      qx.alias("qx"), qy.alias("qy"))
              .select("l_orderkey", "l_linenumber", "qx", "qy",
                      zorder_key(F.col("qx"), F.col("qy")).alias("zkey"))
            )  # O(input): unsorted


QUERIES = {
    "zorder_key_lineitem": q_zorder_key_lineitem,
    "warehouse_prune_day": q_warehouse_prune_day,
}

_N = 1 << ZORDER_BITS

ORACLE = {
    "zorder_key_lineitem": f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), stats AS (
  SELECT MIN(l_extendedprice) AS xmn, MAX(l_extendedprice) AS xmx,
         MIN(l_quantity) AS ymn, MAX(l_quantity) AS ymx
  FROM li
), q AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN xmx = xmn THEN CAST(0 AS BIGINT)
              ELSE LEAST(CAST({_N - 1} AS BIGINT),
                         CAST(FLOOR((l_extendedprice - xmn) / (xmx - xmn)
                                    * {_N}) AS BIGINT)) END AS qx,
         CASE WHEN ymx = ymn THEN CAST(0 AS BIGINT)
              ELSE LEAST(CAST({_N - 1} AS BIGINT),
                         CAST(FLOOR((l_quantity - ymn) / (ymx - ymn)
                                    * {_N}) AS BIGINT)) END AS qy
  FROM li CROSS JOIN stats
)
SELECT l_orderkey, l_linenumber, qx, qy,
       {sql_zorder_key("qx", "qy")} AS zkey
FROM q
""",
    "warehouse_prune_day": f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       {sql_dsum('value')} AS value_sum
FROM events
WHERE CAST(ts AS DATE) = DATE '{PRUNE_DAY}'
GROUP BY event_type
""",
}
