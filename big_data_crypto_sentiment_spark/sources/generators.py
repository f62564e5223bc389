"""Simulated data generators (SURVEY.md M8, S15/S16 analog).

The reference's simulators jitter prices ±5% around per-symbol bases
and clamp RSI to [0, 100] (coincap-simulation/main.py:70-79, 107-182),
publishing on a fixed cadence. Spark-first form: `rand(seed)`
expressions → deterministic given the seed.

All jitter/clamp math is JVM expressions (`rand`, `least(greatest(...))`
— the reference's np.clip), so generated streams cost no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# per-symbol price bases — coincap-simulation/main.py:25-30 shapes
PRICE_BASES = {"ETH": 2700.0, "SOL": 127.0, "FTM": 0.108, "SHIB": 7.8e-6}
JITTER = 0.05  # ±5%

RSI_BASE = 55.0
RSI_JITTER = 15.0


def _symbol_base() -> tuple:
    syms = F.array(*[F.lit(s) for s in PRICE_BASES])
    bases = F.array(*[F.lit(b) for b in PRICE_BASES.values()])
    idx = (F.col("n") % len(PRICE_BASES)).cast("int")
    return syms[idx].alias("symbol"), bases[idx].alias("base")


def simulated_prices(spark: SparkSession, n_ticks: int,
                     seed: int = 42) -> DataFrame:
    """Deterministic batch of jittered ticks across the symbol set."""
    base_df = spark.range(n_ticks).withColumnRenamed("id", "n")
    sym, base = _symbol_base()
    jitter = 1.0 + (F.rand(seed) * 2 - 1) * JITTER
    return base_df.select(
        F.col("n").alias("tick_id"), sym, base,
        (F.col("base") * jitter).alias("price"),
        F.timestamp_millis(F.lit(1704067200000) + F.col("n") * 15000)
         .alias("event_time"),
    ).select("tick_id", "symbol", "price", "event_time")


def simulated_ta(spark: SparkSession, n_ticks: int,
                 seed: int = 7) -> DataFrame:
    """Jittered TA rows with the RSI clamp (np.clip ≙ least/greatest)."""
    base_df = spark.range(n_ticks).withColumnRenamed("id", "n")
    sym, _ = _symbol_base()
    rsi_raw = RSI_BASE + (F.rand(seed) * 2 - 1) * (RSI_JITTER * 4)
    return base_df.select(
        F.col("n").alias("tick_id"), sym,
        F.least(F.lit(100.0), F.greatest(F.lit(0.0), rsi_raw)).alias("rsi"),
        (F.rand(seed + 1) * 2 - 1).alias("macd"),
    )
