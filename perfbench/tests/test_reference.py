"""The reference checks pass on correct outputs and catch each kind of
deliberately wrong output. Outputs are written in the layout the
package's sinks use, on small generated inputs."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, reference


def _failing(checks):
    return {name for name, ok, _ in checks if not ok}


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), pa.int64()).cast(
        pa.timestamp("us", tz="UTC"))


def _jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, default=str) + "\n")


def _window_table(df):
    return pa.table({
        "event_timestamp": _ts(df["ts_us"]),
        "symbol": pa.array(df["symbol"].tolist()),
        "tweet_volume": pa.array(df["tweet_volume"].astype("int64")),
        "avg_price": pa.array(df["avg_price"], pa.float64(), from_pandas=True),
        "last_price": pa.array(df["last_price"], pa.float64(),
                               from_pandas=True),
        "tweet_texts": pa.array([list(x) for x in df["texts"]],
                                pa.list_(pa.string())),
    })


def test_ar1_recurrence_by_hand():
    prices = pd.DataFrame({"symbol": ["A", "B", "A"], "t_us": [1, 2, 3],
                           "price": [10.0, 5.0, 20.0]})
    got = reference.ar1_forecasts(prices, phi=0.5)
    # A: mean 10 -> 10; then mean 15, forecast 15 + 0.5 * (20 - 15)
    assert got["forecast"].tolist() == [10.0, 17.5, 5.0]


def test_late_rows_use_the_watermark_two_batches_back():
    w = reference.WINDOW_S * 1_000_000
    tweets = pd.DataFrame({"chunk": [0, 1, 2, 2],
                           "t_us": [1, 4 * w + 1, 2 * w, 4 * w + 5]})
    prices = pd.DataFrame({"chunk": [0, 1, 2], "t_us": [3 * w, 5 * w, 9 * w]})
    # batch 2 drops rows whose window ended by max(chunk 0) = 3w
    assert reference.late_rows(tweets, prices).tolist() == \
        [False, False, True, False]


@pytest.fixture
def speed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "SPEED_TWEETS_PER_CHUNK", 60)
    monkeypatch.setattr(gen, "SPEED_PRICES_PER_CHUNK", 60)
    meta = gen.gen_speed(3, str(tmp_path / "in"))
    tdir, pdir = str(tmp_path / "in" / "tweets"), str(tmp_path / "in" / "prices")
    tweets, prices = reference._chunks(tdir), reference._chunks(pdir)
    out = tmp_path / "out"
    for name, src in (("raw_tweets", tdir), ("raw_prices", pdir)):
        os.makedirs(out / name)
        table = pa.concat_tables(pq.read_table(os.path.join(src, f))
                                 for f in sorted(os.listdir(src)))
        pq.write_table(table, str(out / name / "part-0.parquet"))
    _jsonl(str(out / "tweet_sentiment" / "batch0-p0.jsonl"),
           [{"tweet_id": int(i), "sentiment_score": 0.0}
            for i in tweets["tweet_id"]])
    fc = reference.ar1_forecasts(prices)
    _jsonl(str(out / "price_forecasts" / "batch0-p0.jsonl"),
           [{"symbol": s, "event_time": str(pd.Timestamp(t, unit="us")),
             "price": p, "next_price_forecast": f}
            for s, t, p, f in fc[["symbol", "t_us", "price",
                                  "forecast"]].itertuples(index=False)])
    late = reference.late_rows(tweets, prices)
    horizon = max(tweets["t_us"].max(), prices["t_us"].max())
    win = reference._windows(reference._con(), tweets[~late], prices,
                             reference.WINDOW_S, "end")
    win = win[win["ts_us"] <= horizon]
    os.makedirs(out / "prices_with_tweets")
    pq.write_table(_window_table(win),
                   str(out / "prices_with_tweets" / "part-0.parquet"))
    progress = [[], [], [], [], [{"stateOperators": [
        {"numRowsDroppedByWatermark": int(late.sum())}]}]]

    def check(progress=progress):
        return reference.check_speed(tdir, pdir, str(out), progress,
                                     meta["late_rows"])
    return out, check, progress


def test_speed_correct_outputs_pass(speed):
    _, check, _ = speed
    checks = check()
    assert len(checks) == 6 and not _failing(checks)


def test_speed_missing_capture_row(speed):
    out, check, _ = speed
    path = str(out / "raw_tweets" / "part-0.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    assert _failing(check()) == {"capture_raw_tweets"}


def test_speed_duplicate_sentiment_row(speed):
    out, check, _ = speed
    path = out / "tweet_sentiment" / "batch0-p0.jsonl"
    first = path.read_text().splitlines()[0]
    with open(path, "a") as f:
        f.write(first + "\n")
    assert _failing(check()) == {"sentiment_one_row_per_tweet"}


def test_speed_wrong_forecast(speed):
    out, check, _ = speed
    path = out / "price_forecasts" / "batch0-p0.jsonl"
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    rows[7]["next_price_forecast"] += 1e-3
    _jsonl(str(path), rows)
    assert _failing(check()) == {"forecast_ar1_recurrence"}


def test_speed_late_row_counted_in_window(speed):
    out, check, _ = speed
    path = str(out / "prices_with_tweets" / "part-0.parquet")
    df = pq.read_table(path).to_pandas()
    df.loc[0, "tweet_volume"] += 1
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    assert _failing(check()) == {"windowed_closed_windows"}


def test_speed_wrong_late_count(speed):
    _, check, progress = speed
    wrong = progress[:4] + [[{"stateOperators": [
        {"numRowsDroppedByWatermark": 0}]}]]
    assert _failing(check(wrong)) == {"late_rows_dropped"}


@pytest.fixture
def tick(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "BATCH_ROWS_PER_DROP", 300)
    drop = str(tmp_path / "drop-0001.parquet")
    gen.gen_drop(5, 1, drop)
    other = str(tmp_path / "drop-0002.parquet")
    gen.gen_drop(5, 2, other)
    con = reference._con()
    ev = con.execute("SELECT epoch_us(ts) AS t_us, event_type AS symbol, "
                     "value, props FROM read_parquet(?)", [drop]).fetchdf()
    tweets = ev[ev["props"].notna()].rename(columns={"props": "text"})
    prices = ev[ev["value"].notna()].rename(columns={"value": "price"})
    out = tmp_path / "out"
    files = {s: [str(out / s / f"b1-part-00000.{ext}")] for s, ext in (
        ("raw_batch_tweets", "jsonl"), ("raw_batch_prices", "jsonl"),
        ("batch_prices_with_tweets", "parquet"))}
    _jsonl(files["raw_batch_tweets"][0],
           [{"event_time": str(pd.Timestamp(t, unit="us")), "symbol": s,
             "text": x} for t, s, x in tweets[["t_us", "symbol", "text"]]
            .itertuples(index=False)])
    _jsonl(files["raw_batch_prices"][0],
           [{"symbol": s, "price": p} for s, p in prices[["symbol", "price"]]
            .itertuples(index=False)])
    win = reference._windows(con, tweets, prices,
                             reference.BATCH_WINDOW_S, "start")
    os.makedirs(out / "batch_prices_with_tweets")
    pq.write_table(_window_table(win), files["batch_prices_with_tweets"][0])
    return drop, other, files


def test_tick_correct_outputs_pass(tick):
    drop, _, files = tick
    checks = reference.check_tick(drop, files)
    assert len(checks) == 3 and not _failing(checks)


def test_tick_rows_of_another_drop(tick):
    drop, other, files = tick
    con = reference._con()
    extra = con.execute("SELECT event_type AS symbol, props AS text FROM "
                        "read_parquet(?) WHERE props IS NOT NULL LIMIT 1",
                        [other]).fetchdf()
    with open(files["raw_batch_tweets"][0], "a") as f:
        f.write(json.dumps(extra.iloc[0].to_dict()) + "\n")
    assert _failing(reference.check_tick(drop, files)) == {"tick_raw_tweets"}


def test_tick_wrong_price(tick):
    drop, _, files = tick
    path = files["raw_batch_prices"][0]
    rows = [json.loads(x) for x in open(path)]
    rows[0]["price"] += 0.01
    _jsonl(path, rows)
    assert _failing(reference.check_tick(drop, files)) == {"tick_raw_prices"}


def test_tick_wrong_window_average(tick):
    drop, _, files = tick
    path = files["batch_prices_with_tweets"][0]
    df = pq.read_table(path).to_pandas()
    i = df["avg_price"].first_valid_index()
    df.loc[i, "avg_price"] *= 1.000001
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    assert _failing(reference.check_tick(drop, files)) == {"tick_windowed"}


@pytest.fixture
def curation(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CURATE_DOCS", 200)
    gen.gen_curate(7, str(tmp_path))
    corpus = str(tmp_path / "corpus")
    con = reference._con()
    docs = os.path.join(corpus, "documents.parquet")
    n, distinct = con.execute(
        "SELECT count(*), count(DISTINCT lower(regexp_replace(text, '\\s+', "
        "' ', 'g'))) FROM read_parquet(?)", [docs]).fetchone()
    reps = sorted(con.execute(
        "SELECT min(doc_id) FROM read_parquet(?) GROUP BY "
        "lower(regexp_replace(text, '\\s+', ' ', 'g'))", [docs])
        .fetchdf().iloc[:, 0])
    stats = {"n_docs": n, "drop_quality": 1, "drop_dup": n - distinct,
             "drop_contaminated": 1, "drop_repetitive": 1,
             "drop_span_dup": 1, "drop_semantic_dup": 1, "drop_lm": 1,
             "n_kept": 20}
    out = tmp_path / "curated"

    def write(ids):
        os.makedirs(out / "split=train", exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       str(out / "split=train" / "part-0.parquet"))
    write(reps[:20])
    dups = sorted(set(range(n)) - set(reps))
    return corpus, str(out), stats, write, reps, dups


def test_curation_correct_outputs_pass(curation):
    corpus, out, stats, _, _, dups = curation
    assert dups  # the generator planted exact duplicates
    checks = reference.check_curation(corpus, out, stats)
    assert len(checks) == 4 and not _failing(checks)


def test_curation_keeps_a_duplicate(curation):
    corpus, out, stats, write, reps, dups = curation
    write(reps[:19] + dups[:1])
    assert _failing(reference.check_curation(corpus, out, stats)) == \
        {"curate_kept_subset"}


def test_curation_count_mismatch_and_silent_stage(curation):
    corpus, out, stats, _, _, _ = curation
    wrong = dict(stats, n_kept=21, drop_span_dup=0,
                 drop_dup=stats["drop_dup"] + 1)
    assert _failing(reference.check_curation(corpus, out, wrong)) == \
        {"curate_kept_subset", "curate_every_stage_drops", "curate_exact_dup"}
