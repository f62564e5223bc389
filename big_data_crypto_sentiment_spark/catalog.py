"""Dataset catalog over the driver's parquet testdata.

Mirrors the reference's logical datasets (SURVEY.md §1.4) onto the
TPC-H-ish tables plus `events` / `documents` / `embeddings`
(TESTDATA.md, FIXTURES.md §6). Every reader is a plain
`spark.read.parquet` so predicate pushdown / column pruning / partition
pruning stay Catalyst's job — no eager materialization, no driver-side
listing state (the reference hand-rolled incremental file state,
terraform/scripts/batch_to_mongo.py:22-57; Structured Streaming's file
source replaces that wholesale, see streaming/).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp-typed columns per table: the nanosAsLong conf (set
# session-wide in _ts_confs — parquet readers consult it at execution
# too, so per-load toggling would race lazy DataFrames) makes a
# TIMESTAMP(NANOS) column in ANY table read as bigint; this map lets
# ``load`` reconvert every known timestamp column by dtype instead of
# silently handing callers a long (previously only events.ts was
# covered).
_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _ts_confs(spark: SparkSession) -> None:
    """Session confs every catalog read needs for oracle parity.

    - UTC session timezone: DuckDB renders/compares timestamps in UTC.
    - inferTimestampNTZ off: parquet TIMESTAMP(MICROS, isAdjustedToUTC
      =false) columns (events.ts, o_orderdate, l_shipdate) read as plain
      TIMESTAMP instead of TIMESTAMP_NTZ, so literals compare (and push
      down) without NTZ/LTZ coercion games and the result schema matches
      what DuckDB reports for the same file.
    - nanosAsLong: harmless for micros files; keeps older TIMESTAMP
      (NANOS) testdata readable (Spark's vectorized reader rejects nanos
      otherwise) — ``load`` detects that case by the resulting bigint
      dtype and truncates to micros exactly as DuckDB does.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Plain parquet scan — keeps pushdown/pruning with Catalyst.

    ``events.ts`` is a parquet timestamp; schema drift across testdata
    generations (TIMESTAMP(NANOS) read as long vs TIMESTAMP(MICROS) read
    natively) is absorbed here, in one place, by dtype."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ts_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for col in _TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # legacy nanos column read as long → truncate to micros like
            # DuckDB
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    return df


def load_events_range(spark: SparkSession, sf_dir: str,
                      start_ns: int, end_ns: int | None = None) -> DataFrame:
    """Events scan with the time bounds PUSHED to parquet row groups.

    The bounds must hit the reader as comparisons on the RAW stored
    column so parquet row-group min/max stats prune them — at 100 TB
    the difference between scanning a day and scanning the archive.
    For native TIMESTAMP files that's a plain timestamp predicate
    (PushedFilters: [GreaterThanOrEqual(ts, ...)]); for legacy
    nanos-as-long files it's a long comparison applied before the
    micros conversion. A filter on a CONVERTED column (e.g.
    `timestamp_micros(ts DIV 1000) >= X`) is a DataFilter but never a
    PushedFilter — parquet stats can't evaluate the expression. Bounds
    are epoch NANOseconds (precision-safe at the edge either way)."""
    _ts_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes)["ts"] == "bigint":  # legacy nanos file
        df = df.filter(F.col("ts") >= F.lit(int(start_ns)))
        if end_ns is not None:
            df = df.filter(F.col("ts") < F.lit(int(end_ns)))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # CEILING division on both bounds: for micro-resolution data
    # (ts_ns = 1000·ts_us), `ts_us >= ceil(start_ns/1000)` and
    # `ts_us < ceil(end_ns/1000)` are exactly the raw-nanos comparisons
    # `ts_ns >= start_ns` / `ts_ns < end_ns`. Floor division would admit
    # rows in [floor(start/1000)µs, start) and wrongly exclude a row at
    # exactly floor(end/1000)µs for non-micro-aligned bounds.
    start = F.timestamp_micros(F.lit((int(start_ns) + 999) // 1000))
    df = df.filter(F.col("ts") >= start)
    if end_ns is not None:
        end = F.timestamp_micros(F.lit((int(end_ns) + 999) // 1000))
        df = df.filter(F.col("ts") < end)
    return df


_EPOCH_UNITS = {"s": F.timestamp_seconds, "ms": F.timestamp_millis,
                "us": F.timestamp_micros}


def register_repaired_view(spark: SparkSession, raw: DataFrame,
                           name: str,
                           epoch_cols: dict[str, str]) -> DataFrame:
    """Type-repair view: expose `raw` under temp view `name` with each
    integer epoch column converted to a proper TIMESTAMP — the
    reference's repair CTAS (`CREATE OR REPLACE TABLE … AS SELECT
    TIMESTAMP_MILLIS(CAST(timestamp AS INT64))`,
    eda/Data_Minions_EDA_Milestone3.ipynb cell 4; SURVEY §3.3 maps it
    to a view). A VIEW beats the reference's CTAS at scale: no copy of
    the table is materialized, and the conversion folds into every
    reader's plan.

    epoch_cols: {column: unit} with unit in {'s','ms','us'}. Column
    order and all other columns pass through unchanged. Caveat: a
    filter on the CONVERTED column is a DataFilter, not a parquet
    PushedFilter — time-range scans that must prune row groups go
    through load_events_range's raw-column comparisons instead."""
    for col, unit in epoch_cols.items():
        if unit not in _EPOCH_UNITS:
            raise ValueError(f"unit {unit!r} for {col!r} not in "
                             f"{sorted(_EPOCH_UNITS)}")
        raw = raw.withColumn(
            col, _EPOCH_UNITS[unit](F.col(col).cast("bigint")))
    raw.createOrReplaceTempView(name)
    return raw
