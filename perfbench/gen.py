"""Seeded input generator for the end-to-end benchmark.

Uses numpy and pyarrow only, never the package under test, so the
inputs (and the reference answers computed from them) stay independent
of the code being measured. The same seed always writes the same bytes.

    python3 perfbench/gen.py --workload speed_backlog --seed 1 --out DIR

Layouts written under ``out``:

* ``speed_backlog``: ``tweets/`` and ``prices/``, one parquet chunk file
  per micro-batch, mtimes restamped in event-time order (the file source
  replays oldest-modified first). Four symbols, one of them hot; from the
  third chunk on a few tweets arrive after their 30 s window closed.
* cron-tick drops (``gen_drop``, written one per tick by the workload): one
  parquet file in the events schema ``jobs.batch_job.split_roles`` reads
  (tweet rows carry ``props``, price rows carry ``value``), each drop
  covering its own two hours.
* ``curate_funnel``: ``corpus/documents.parquet`` and
  ``corpus/embeddings.parquet`` with planted exact duplicates, shared
  boilerplate spans, repetitive and stopword-free docs, and near-identical
  embeddings, so every funnel stage drops documents.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = ("ETH", "SOL", "FTM", "SHIB")
HOT_SHARE = 0.55  # share of rows on the hot symbol
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
WINDOW_US = 30_000_000

# speed_backlog: chunk k covers [T0 + k*CHUNK_SPAN, T0 + (k+1)*CHUNK_SPAN)
SPEED_CHUNKS = 3
SPEED_TWEETS_PER_CHUNK = 5000
SPEED_PRICES_PER_CHUNK = 5000
CHUNK_SPAN_US = 4 * WINDOW_US
LATE_PER_CHUNK = 3  # planted late tweets per chunk, from chunk 2 on

# cron-tick drops
BATCH_ROWS_PER_DROP = 10_000
DROP_SPAN_US = 2 * 3600 * 1_000_000

# curate_funnel
CURATE_DOCS = 5000
EMBED_DIM = 64

POS = ("fast", "big", "up", "moon", "buy")
NEG = ("slow", "small", "down", "sell", "outage")
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

_TS = pa.timestamp("us", tz="UTC")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    lens = rng.integers(4, 9, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _symbols(rng: np.random.Generator, n: int, hot: str) -> np.ndarray:
    cold = [s for s in SYMBOLS if s != hot]
    pick = rng.random(n) < HOT_SHARE
    return np.where(pick, hot, rng.choice(cold, n))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    words = np.concatenate([vocab, POS, NEG])
    lens = rng.integers(5, 15, n)
    return [" ".join(rng.choice(words, k)) for k in lens]


def _unique_times(rng: np.random.Generator, n: int, lo: int,
                  span: int) -> np.ndarray:
    """n distinct, sorted microsecond stamps in [lo, lo + span)."""
    return np.sort(rng.choice(span, n, replace=False)) + lo


def _restamp(paths: list[str], base: float) -> None:
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def gen_speed(seed: int, out: str) -> dict:
    """Tweet and price chunk files; returns the planted late-row count."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 400)
    hot = SYMBOLS[seed % len(SYMBOLS)]
    tdir, pdir = os.path.join(out, "tweets"), os.path.join(out, "prices")
    os.makedirs(tdir), os.makedirs(pdir)
    last_price = {s: float(rng.uniform(1, 3000)) for s in SYMBOLS}
    tweet_id, late_total, tpaths, ppaths = 0, 0, [], []
    for k in range(SPEED_CHUNKS):
        lo = T0_US + k * CHUNK_SPAN_US
        n = SPEED_TWEETS_PER_CHUNK
        t_ts = rng.integers(lo, lo + CHUNK_SPAN_US, n)
        t_sym = _symbols(rng, n, hot)
        if k >= 2:
            # one late tweet per window the query already emitted, each in its
            # own (window, symbol): late rows are judged against the previous
            # batch's watermark, the max event time of chunks <= k - 2, and
            # the first three windows of chunk k - 2 end before it
            prev = lo - 2 * CHUNK_SPAN_US
            for j in range(LATE_PER_CHUNK):
                t_ts[j] = prev + j * WINDOW_US + int(rng.integers(WINDOW_US))
                t_sym[j] = SYMBOLS[j % len(SYMBOLS)]
            late_total += LATE_PER_CHUNK
        tweets = pa.table({
            "tweet_id": pa.array(np.arange(tweet_id, tweet_id + n)),
            "event_time": pa.array(t_ts, _TS),
            "symbol": pa.array(t_sym),
            "text": pa.array(_texts(rng, vocab, n)),
        })
        tweet_id += n
        m = SPEED_PRICES_PER_CHUNK
        p_sym = _symbols(rng, m, hot)
        # strictly increasing stamps per symbol: the forecast's row order and
        # last_price's max_by are then unambiguous
        p_ts = _unique_times(rng, m, lo, CHUNK_SPAN_US)
        price = np.empty(m)
        for i, s in enumerate(p_sym):
            last_price[s] = max(0.01, last_price[s] * (1 + rng.normal(0, 0.002)))
            price[i] = round(last_price[s], 2)
        prices = pa.table({
            "event_time": pa.array(p_ts, _TS),
            "symbol": pa.array(p_sym),
            "price": pa.array(price),
        })
        tpaths.append(os.path.join(tdir, f"chunk-{k:04d}.parquet"))
        ppaths.append(os.path.join(pdir, f"chunk-{k:04d}.parquet"))
        pq.write_table(tweets, tpaths[-1])
        pq.write_table(prices, ppaths[-1])
    base = 1_700_000_000.0
    _restamp(tpaths, base)
    _restamp(ppaths, base)
    rows = SPEED_CHUNKS * (SPEED_TWEETS_PER_CHUNK + SPEED_PRICES_PER_CHUNK)
    return {"rows": rows, "late_rows": late_total}


def gen_drop(seed: int, d: int, path: str) -> int:
    """Drop ``d`` of the cron-tick sequence; returns its row count. Each
    drop has its own random stream, so ticks are generated one at a time."""
    rng = np.random.default_rng([seed, d])
    vocab = _vocab(rng, 400)
    hot = SYMBOLS[seed % len(SYMBOLS)]
    n = BATCH_ROWS_PER_DROP
    is_tweet = rng.random(n) < 0.5
    value = np.round(rng.uniform(1, 3000, n), 2)
    texts = np.array(_texts(rng, vocab, n), dtype=object)
    table = pa.table({
        "event_id": pa.array(np.arange(d * n, (d + 1) * n)),
        "ts": pa.array(_unique_times(rng, n, T0_US + d * DROP_SPAN_US,
                                     DROP_SPAN_US), _TS),
        "user_id": pa.array(rng.integers(0, 1000, n)),
        "event_type": pa.array(_symbols(rng, n, hot)),
        "value": pa.array(np.where(is_tweet, np.nan, value),
                          from_pandas=True),
        "props": pa.array(np.where(is_tweet, texts, None)),
    })
    pq.write_table(table, path)
    return n


def gen_curate(seed: int, out: str) -> dict:
    """Documents plus embeddings with planted drops for every stage."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 3000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    n = CURATE_DOCS

    def body(k):
        words = list(rng.choice(vocab, k, p=zipf))
        for i in range(0, k, 8):  # stopword-dressed: passes the C4 rule
            words[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return words

    docs = [body(int(rng.integers(30, 80))) for _ in range(n)]
    # shared boilerplate spans, each pasted into 10 docs: the docs sharing a
    # span with a benchmark-slice doc are contaminated, and docs that are
    # mostly boilerplate are span duplicates
    for _ in range(20):
        span = body(12)
        for i in rng.choice(n, 10, replace=False):
            at = int(rng.integers(len(docs[i])))
            docs[i][at:at] = span
    for i in rng.choice(n, n // 50, replace=False):  # mostly boilerplate
        docs[i] = docs[int(rng.integers(n))][:40] + body(3)
    texts = [" ".join(w) for w in docs]
    kinds = rng.random(n)
    for i in range(n):
        if kinds[i] < 0.03:  # no stopwords: fails the C4 stopword rule
            texts[i] = " ".join(rng.choice(vocab, 30))
        elif kinds[i] < 0.05:  # one word over and over: repetitive
            w = str(rng.choice(vocab))
            texts[i] = " ".join([w] * 20 + ["the"] + [w] * 20)
        elif kinds[i] < 0.06:  # call-to-action spam
            texts[i] += " join our telegram vip"
        elif kinds[i] < 0.11:  # exact duplicate after case/space folding
            src = texts[int(rng.integers(n))]
            texts[i] = src.upper().replace(" ", "  ", 3)
    emb = rng.normal(0, 1, (n, EMBED_DIM))
    for i in rng.choice(n, n // 20, replace=False):  # near-identical vectors
        emb[i] = emb[int(rng.integers(n))] + rng.normal(0, 0.01, EMBED_DIM)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    cdir = os.path.join(out, "corpus")
    os.makedirs(cdir)
    ids = np.arange(n, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "es", "de"], n)),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(cdir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n).astype(np.int32)),
    }), os.path.join(cdir, "embeddings.parquet"))
    return {"rows": n}


GENERATORS = {
    "speed_backlog": gen_speed,
    "curate_funnel": gen_curate,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    print(GENERATORS[args.workload](args.seed, args.out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
