"""Shared helpers for oracle-checked queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog read with (sf_dir-last) argument order queries find handy."""
    from ..catalog import load
    return load(spark, name, sf_dir)


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Widen an under-split scan before per-row CPU-heavy work.

    Single-row-group parquet files can't be byte-range split, so a scan of
    them yields one task and any expensive map-side math downstream (shingle
    md5s, signature transforms) serializes onto one core. A round-robin
    repartition to the session's core count fixes that for the price of one
    shuffle of the (narrow) input rows.

    Guarded: when the scan is already at least as wide as the cluster —
    the real-warehouse / 100 TB case, where files are many and row groups
    split — this is a no-op, so it can never ADD a full-corpus shuffle to a
    plan that is already parallel. Use it only where downstream per-row CPU
    dominates; benchmarking showed a blanket version in catalog.load is a
    large net loss (iterative MLlib fits re-pay the exchange every pass,
    and round-robin's determinism sort is priced per full row)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def dsum(col: str | Column, scale: int = 6) -> Column:
    """Order-independent double sum: exact decimal sum, cast back to double.

    Spark and DuckDB then produce bit-identical doubles regardless of
    partitioning/aggregation order (plain double sums differ in final ulps
    between engines, which breaks the driver's value-hash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def davg(col: str | Column, scale: int = 6) -> Column:
    """Order-independent double mean: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(f"decimal(27,{scale})")).cast("double")
            / F.count(c)).alias("avg")


def sql_dsum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 6) -> str:
    return (f"(CAST(SUM(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"
            f" / COUNT({expr}))")


def _literal_type(values) -> str:
    """The Spark type F.lit gives a homogeneous run of Python values, as
    create_map coerces it: int when every int fits int32, bigint
    otherwise, double once any float is present."""
    vals = list(values)
    if all(isinstance(v, str) for v in vals):
        return "string"
    if any(isinstance(v, bool) or not isinstance(v, (int, float))
           for v in vals):
        raise TypeError("literal_map: keys/values must be all str or "
                        "all int/float")
    if any(isinstance(v, float) for v in vals):
        return "double"
    if all(-2**31 <= v < 2**31 for v in vals):
        return "int"
    return "bigint"


def literal_map(d: dict) -> Column:
    """The literal map that `F.create_map(*[F.lit(x) for kv in d.items()
    for x in kv])` builds — same key/value types, same entries — in four
    py4j calls instead of 2·|d|+1 (0.86 s for a 1,000-entry map on a
    4-vCPU VM; this form takes ~5 ms). Keys and values travel as two JSON array
    literals; the optimizer folds map_from_arrays(from_json(...), ...)
    back into one literal map. NaN and ±inf doubles round-trip (Spark's
    JSON reader accepts NaN/Infinity). An empty dict gives create_map()'s
    own map<void,void>."""
    import json
    if not d:
        return F.create_map()
    return F.map_from_arrays(
        F.from_json(F.lit(json.dumps(list(d))),
                    f"array<{_literal_type(d)}>"),
        F.from_json(F.lit(json.dumps(list(d.values()))),
                    f"array<{_literal_type(d.values())}>"))
