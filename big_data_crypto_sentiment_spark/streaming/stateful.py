"""Stateful per-symbol online forecast (SURVEY.md M2/T6).

The reference keeps a worker-resident ARIMA per symbol and does
`model.update([price]); predict(1)` per tick with best-effort,
non-checkpointed state (dataflow/stream_join.py:349-398). The idiomatic
Spark form is `applyInPandasWithState`: state is explicit, keyed by
symbol, checkpointed with the query, and survives restarts — strictly
stronger semantics than the reference (whose state dies with a worker).

The model here is the closed-form online AR(1) around a running mean:
    forecast_{t+1} = mu_t + phi * (x_t - mu_t)
with mu_t a running average updated per tick and phi fixed (the batch
trainer ml.q_ml_ar1_train produces per-symbol phi; pass it in).
Semantics note (SURVEY.md §7 "hard" #1): updates happen per-row inside
a micro-batch exactly like the reference's per-element DoFn, but
emission granularity is per micro-batch — documented, and tested at the
sequence level.

Scale notes: state per key is three floats — thousands of symbols cost
nothing; the shuffle is the groupBy(symbol) the operator needs anyway.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FORECAST_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("event_time", T.TimestampType()),
    T.StructField("price", T.DoubleType()),
    T.StructField("next_price_forecast", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("last", T.DoubleType()),
])

DEFAULT_PHI = 0.8


def _step(n: int, mean: float, last: float, price: float,
          phi: float) -> Tuple[int, float, float, float]:
    """One online update; returns (n, mean, last, forecast_after_update)."""
    n += 1
    mean += (price - mean) / n
    last = price
    return n, mean, last, mean + phi * (last - mean)


def _forecast_group(symbol: Any, pdfs: Iterator[pd.DataFrame],
                    state: Tuple[int, float, float], phi: float
                    ) -> Tuple[Tuple[int, float, float], pd.DataFrame]:
    """Step one symbol's rows of a micro-batch through the AR(1) in
    event-time order; returns the new state and the forecast rows.

    Spark hands a group over in Arrow chunks of at most
    `spark.sql.execution.arrow.maxRecordsPerBatch` rows whose order
    across chunks is arbitrary, so the chunks are concatenated and
    sorted once (stably: equal times keep their arrival order)."""
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        "event_time", kind="stable")
    n, mean, last = state
    out = []
    for row in pdf.itertuples(index=False):
        price = float(row.price)
        n, mean, last, fc = _step(n, mean, last, price, phi)
        out.append((symbol, row.event_time, price, fc))
    return (n, mean, last), pd.DataFrame(
        out, columns=[f.name for f in FORECAST_SCHEMA])


def make_forecast_fn(phi: float = DEFAULT_PHI, phi_map=None):
    """Row-at-a-time online update inside each micro-batch (the reference
    updates per element); a symbol's rows are processed in event-time
    order across all of the micro-batch's Arrow chunks.

    ``phi_map``: optional per-symbol phi — pass a broadcast of
    model_registry.phi_by_symbol(bundle) (or a plain dict) so the
    streaming job consumes the batch trainer's artifact, mirroring the
    reference's GCS-bundle load (stream_join.py:355-368)."""

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        lookup = getattr(phi_map, "value", phi_map)  # broadcast or dict
        sym_phi = (lookup or {}).get(symbol, phi)
        new, out = _forecast_group(
            symbol, pdfs, state.get if state.exists else (0, 0.0, 0.0),
            sym_phi)
        state.update(new)
        yield out

    return fn


def online_forecast(prices: DataFrame, phi: float = DEFAULT_PHI,
                    phi_map=None,
                    output_mode: str = "append") -> DataFrame:
    """prices: (symbol, event_time, price) stream → per-tick forecasts."""
    return (prices.groupBy("symbol")
            .applyInPandasWithState(
                make_forecast_fn(phi, phi_map),
                outputStructType=FORECAST_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode=output_mode,
                timeoutConf=GroupStateTimeout.NoTimeout))


def reference_forecast_series(prices: pd.DataFrame,
                              phi: float = DEFAULT_PHI) -> pd.DataFrame:
    """Pandas twin for tests: the exact sequential semantics."""
    out = []
    states: dict[str, Tuple[int, float, float]] = {}
    for row in prices.sort_values(["event_time"]).itertuples(index=False):
        n, mean, last = states.get(row.symbol, (0, 0.0, 0.0))
        n, mean, last, fc = _step(n, mean, last, float(row.price), phi)
        states[row.symbol] = (n, mean, last)
        out.append((row.symbol, row.event_time, float(row.price), fc))
    return pd.DataFrame(out, columns=["symbol", "event_time", "price",
                                      "next_price_forecast"])
