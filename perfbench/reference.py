"""Independent reference checks: every workload's outputs against answers
computed with DuckDB, pandas and numpy straight from the generated inputs.

Each ``check_*`` function returns a list of ``(name, ok, detail)``; a
workload operation counts as failed when any of its checks is not ok.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd

WINDOW_S = 30  # the speed layer's tumbling window
BATCH_WINDOW_S = 1800  # run_batch's default "30 minutes"
MAX_TEXTS = 1000  # both layers keep the first 1000 sorted texts per window
PHI = 0.8  # AR(1) coefficient the speed layer uses without a model bundle
REL_TOL = 1e-9


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _files(pattern: str) -> list[str]:
    return sorted(glob.glob(pattern, recursive=True))


def _chunks(directory: str) -> pd.DataFrame:
    """All chunk files of one replay stream, with their chunk index and
    event time as epoch microseconds."""
    con, frames = _con(), []
    for k, path in enumerate(_files(os.path.join(directory, "*.parquet"))):
        df = con.execute(
            "SELECT *, epoch_us(event_time) AS t_us FROM read_parquet(?)",
            [path]).fetchdf()
        df["chunk"] = k
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def _close(a, b) -> bool:
    a, b = np.asarray(a, float), np.asarray(b, float)
    if a.shape != b.shape or not np.array_equal(np.isnan(a), np.isnan(b)):
        return False
    ok = ~np.isnan(a)
    return bool(np.all(np.abs(a[ok] - b[ok])
                       <= REL_TOL * np.maximum(1.0, np.abs(b[ok]))))


def ar1_forecasts(prices: pd.DataFrame, phi: float = PHI) -> pd.DataFrame:
    """Per symbol, in event-time order: mean_n = mean_{n-1} +
    (x_n - mean_{n-1}) / n and forecast_n = mean_n + phi (x_n - mean_n)."""
    out = []
    for sym, g in prices.sort_values("t_us").groupby("symbol", sort=True):
        x = g["price"].to_numpy(float)
        mean, fc = 0.0, np.empty(len(x))
        for i, v in enumerate(x):
            mean += (v - mean) / (i + 1)
            fc[i] = mean + phi * (v - mean)
        out.append(pd.DataFrame({"symbol": sym, "t_us": g["t_us"].to_numpy(),
                                 "price": x, "forecast": fc}))
    return pd.concat(out, ignore_index=True)


def late_rows(tweets: pd.DataFrame, prices: pd.DataFrame) -> pd.Series:
    """Mask of tweets the windowed query must drop. Micro-batch k reads
    chunk k of both streams; with a 0 s delay the watermark after batch j
    is the max event time seen in batches <= j, and batch k drops rows
    whose window ended at or before the watermark of batch k - 2 (late
    rows are judged against the previous batch's watermark)."""
    both = pd.concat([tweets[["chunk", "t_us"]], prices[["chunk", "t_us"]]])
    seen = both.groupby("chunk")["t_us"].max().sort_index().cummax()
    w = WINDOW_S * 1_000_000
    end = (tweets["t_us"] // w + 1) * w
    limit = tweets["chunk"].map(lambda k: seen.get(k - 2, -np.inf))
    return end <= limit


def _windows(con, tweets: pd.DataFrame, prices: pd.DataFrame,
             window_s: int, edge: str) -> pd.DataFrame:
    """GROUP BY (window, symbol) over both sides, outer semantics: volume
    0 and no texts without tweets, NULL prices without ticks."""
    con.register("t_in", tweets[["t_us", "symbol", "text"]])
    con.register("p_in", prices[["t_us", "symbol", "price"]])
    w = window_s * 1_000_000
    shift = w if edge == "end" else 0
    df = con.execute(f"""
        WITH t AS (SELECT t_us // {w} AS win, symbol, count(*) AS tweet_volume,
                          list_sort(list(text)) AS texts
                   FROM t_in GROUP BY ALL),
             p AS (SELECT t_us // {w} AS win, symbol,
                          sum(CAST(price AS DECIMAL(27, 6)))::DOUBLE / count(*)
                              AS avg_price,
                          arg_max(price, t_us) AS last_price
                   FROM p_in GROUP BY ALL)
        SELECT coalesce(t.win, p.win) * {w} + {shift} AS ts_us,
               coalesce(t.symbol, p.symbol) AS symbol,
               coalesce(t.tweet_volume, 0) AS tweet_volume,
               p.avg_price, p.last_price,
               coalesce(t.texts[1:{MAX_TEXTS}], []) AS texts
        FROM t FULL OUTER JOIN p ON t.win = p.win AND t.symbol = p.symbol
    """).fetchdf()
    con.unregister("t_in"), con.unregister("p_in")
    return df.sort_values(["ts_us", "symbol"], ignore_index=True)


def _same_windows(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    got = got.sort_values(["ts_us", "symbol"], ignore_index=True)
    if len(got) != len(want):
        return False, f"{len(got)} windows, reference {len(want)}"
    keys_ok = (got["ts_us"].tolist() == want["ts_us"].tolist()
               and got["symbol"].tolist() == want["symbol"].tolist())
    if not keys_ok:
        return False, "window keys differ"
    if got["tweet_volume"].tolist() != want["tweet_volume"].tolist():
        return False, "tweet_volume differs"
    if not (_close(got["avg_price"], want["avg_price"])
            and _close(got["last_price"], want["last_price"])):
        return False, "avg_price/last_price differ"
    if [list(x) for x in got["texts"]] != [list(x) for x in want["texts"]]:
        return False, "tweet_texts differ"
    return True, f"{len(got)} windows"


def check_speed(tweets_dir: str, prices_dir: str, out: str,
                progress: list[list[dict]], planted_late: int) -> list:
    """The five speed-layer sinks against the inputs. ``progress`` holds the
    returned queries' reports in start_speed_layer's order."""
    con = _con()
    tweets, prices = _chunks(tweets_dir), _chunks(prices_dir)
    checks = []

    for name, n in (("raw_tweets", len(tweets)), ("raw_prices", len(prices))):
        files = _files(os.path.join(out, name, "*.parquet"))
        got = con.execute("SELECT count(*) FROM read_parquet(?)",
                          [files]).fetchone()[0] if files else 0
        checks.append((f"capture_{name}", got == n, f"{got} rows of {n}"))

    files = _files(os.path.join(out, "tweet_sentiment", "*.jsonl"))
    rows, ids, scored = con.execute(
        "SELECT count(*), count(DISTINCT tweet_id), count(sentiment_score) "
        "FROM read_json_auto(?, format='newline_delimited')",
        [files]).fetchone() if files else (0, 0, 0)
    n = len(tweets)
    checks.append(("sentiment_one_row_per_tweet",
                   rows == ids == scored == n,
                   f"{rows} rows, {ids} ids, {scored} scored, {n} tweets"))

    files = _files(os.path.join(out, "price_forecasts", "*.jsonl"))
    got = con.execute(
        "SELECT symbol, epoch_us(CAST(event_time AS TIMESTAMP)) AS t_us, "
        "price, next_price_forecast AS forecast "
        "FROM read_json_auto(?, format='newline_delimited') "
        "ORDER BY symbol, t_us", [files]).fetchdf() if files else None
    want = ar1_forecasts(prices).sort_values(["symbol", "t_us"],
                                             ignore_index=True)
    ok = (got is not None and len(got) == len(want)
          and got["symbol"].tolist() == want["symbol"].tolist()
          and got["t_us"].tolist() == want["t_us"].tolist()
          and _close(got["price"], want["price"])
          and _close(got["forecast"], want["forecast"]))
    checks.append(("forecast_ar1_recurrence", ok,
                   f"{0 if got is None else len(got)} rows, "
                   f"reference {len(want)}"))

    late = late_rows(tweets, prices)
    horizon = max(tweets["t_us"].max(), prices["t_us"].max())
    want = _windows(con, tweets[~late], prices, WINDOW_S, "end")
    want = want[want["ts_us"] <= horizon].reset_index(drop=True)
    files = _files(os.path.join(out, "prices_with_tweets", "*.parquet"))
    got = con.execute(
        "SELECT epoch_us(event_timestamp) AS ts_us, symbol, tweet_volume, "
        "avg_price, last_price, tweet_texts AS texts FROM read_parquet(?)",
        [files]).fetchdf() if files else want.iloc[:0]
    ok, detail = _same_windows(got, want)
    checks.append(("windowed_closed_windows", ok, detail))

    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress[4] for op in p.get("stateOperators", []))
    checks.append(("late_rows_dropped",
                   dropped == int(late.sum()) == planted_late,
                   f"{dropped} dropped, reference {int(late.sum())}, "
                   f"planted {planted_late}"))
    return checks


def check_tick(drop_path: str, new_files: dict[str, list[str]]) -> list:
    """One run_batch tick: the files it added to each sink hold exactly its
    own drop, and the windowed rows equal per-drop aggregates."""
    con = _con()
    ev = con.execute("SELECT epoch_us(ts) AS t_us, event_type AS symbol, "
                     "value, props FROM read_parquet(?)",
                     [drop_path]).fetchdf()
    tweets = ev[ev["props"].notna()].rename(columns={"props": "text"})
    prices = ev[ev["value"].notna()].rename(columns={"value": "price"})
    checks = []

    def jsonl(files, cols):
        if not files:
            return pd.DataFrame(columns=cols)
        return con.execute(
            f"SELECT {', '.join(cols)} FROM read_json_auto(?, "
            "format='newline_delimited')", [files]).fetchdf()

    got = jsonl(new_files["raw_batch_tweets"], ["symbol", "text"])
    ok = sorted(zip(got["symbol"], got["text"])) == \
        sorted(zip(tweets["symbol"], tweets["text"]))
    checks.append(("tick_raw_tweets", ok, f"{len(got)} of {len(tweets)}"))

    got = jsonl(new_files["raw_batch_prices"], ["symbol", "price"])
    cents = lambda s: np.round(np.asarray(s, float) * 100).astype(np.int64)
    ok = sorted(zip(got["symbol"], cents(got["price"]))) == \
        sorted(zip(prices["symbol"], cents(prices["price"])))
    checks.append(("tick_raw_prices", ok, f"{len(got)} of {len(prices)}"))

    want = _windows(con, tweets, prices, BATCH_WINDOW_S, "start")
    files = new_files["batch_prices_with_tweets"]
    got = con.execute(
        "SELECT epoch_us(event_timestamp) AS ts_us, symbol, tweet_volume, "
        "avg_price, last_price, tweet_texts AS texts FROM read_parquet(?)",
        [files]).fetchdf() if files else want.iloc[:0]
    ok, detail = _same_windows(got, want)
    checks.append(("tick_windowed", ok, detail))
    return checks


def kept_ids(out: str) -> list[int]:
    """The doc IDs run_curation wrote, sorted."""
    files = _files(os.path.join(out, "**", "*.parquet"))
    if not files:
        return []
    return sorted(_con().execute("SELECT doc_id FROM read_parquet(?)",
                                 [files]).fetchdf()["doc_id"].tolist())


def check_curation(corpus: str, out: str, stats: dict) -> list:
    """Funnel accounting: the kept IDs are unique input IDs, one per
    normalized content, as many as ``n_kept``, and every stage drops."""
    con = _con()
    docs = os.path.join(corpus, "documents.parquet")
    n, distinct = con.execute(
        "SELECT count(*), count(DISTINCT lower(regexp_replace(text, '\\s+', "
        "' ', 'g'))) FROM read_parquet(?) WHERE text IS NOT NULL",
        [docs]).fetchone()
    kept = pd.Series(kept_ids(out), dtype="int64")
    reps = set(con.execute(
        "SELECT min(doc_id) FROM read_parquet(?) WHERE text IS NOT NULL "
        "GROUP BY lower(regexp_replace(text, '\\s+', ' ', 'g'))",
        [docs]).fetchdf().iloc[:, 0])
    drops = {k: v for k, v in stats.items() if k.startswith("drop_")}
    return [
        ("curate_n_docs", stats.get("n_docs") == n,
         f"{stats.get('n_docs')} of {n}"),
        ("curate_exact_dup", stats.get("drop_dup") == n - distinct,
         f"{stats.get('drop_dup')} dropped, reference {n - distinct}"),
        ("curate_kept_subset",
         kept.is_unique and set(kept) <= reps
         and len(kept) == stats.get("n_kept"),
         f"{len(kept)} kept, n_kept {stats.get('n_kept')}"),
        ("curate_every_stage_drops",
         len(drops) == 7 and all(v > 0 for v in drops.values()), str(drops)),
    ]
