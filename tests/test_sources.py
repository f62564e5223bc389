"""Source-reader edge paths the oracle can't see: corrupt JSON lines,
wrapped-shape tolerance, and the warehouse fallback error path."""

import pytest
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.sources import (
    normalize_tweets,
    read_tweets_jsonl,
    read_warehouse,
)


def test_corrupt_json_line_becomes_null_row_not_crash(spark, tmp_path):
    d = tmp_path / "tweets"
    d.mkdir()
    (d / "ETH_x.jsonl").write_text(
        '{"id": "1", "text": "ok", "crypto_key": "ETH", '
        '"created_at_iso": "2024-01-01T00:00:00Z"}\n'
        'this is not json at all\n'
        '{"id": "2", "text": "also ok", "crypto_key": "ETH", '
        '"created_at_iso": "2024-01-01T00:01:00Z"}\n')
    out = normalize_tweets(read_tweets_jsonl(spark, str(d))).collect()
    assert len(out) == 3  # defensive: malformed row survives as nulls
    ids = {r.id for r in out}
    assert ids == {"1", "2", None}
    # every row still carries the filename-derived symbol
    assert {r.symbol for r in out} == {"ETH"}


def test_symbol_fixup_and_tags(spark):
    df = read_tweets_jsonl(spark, "tests/fixtures/tweets")
    syms = {r.symbol for r in df.select("symbol").distinct().collect()}
    assert syms == {"ETH", "SOL", "SHIB"}  # SHI_*.jsonl → SHIB


def test_timestamp_chain_fallback_order(spark):
    df = normalize_tweets(read_tweets_jsonl(spark, "tests/fixtures/tweets"))
    rows = {r.id: r for r in df.collect()}
    # id 1002: bad ISO, valid ms → ms fallback
    assert rows["1002"].event_ts.isoformat() == "2024-01-01T10:01:00"
    # id 1003: null ISO, junk ms, valid Twitter raw → raw fallback
    assert rows["1003"].event_ts.isoformat() == "2024-01-01T10:02:00"
    assert rows["1003"].ts_ms is None  # "12abc" try_cast → null
    # id 1004: everything unparseable → null, never an exception
    assert rows["1004"].event_ts is None


TWEET_AVRO_SCHEMA = {
    "type": "record", "name": "tweet", "fields": [
        {"name": "id", "type": "string"},
        {"name": "text", "type": ["null", "string"]},
        {"name": "symbol", "type": "string"},
        {"name": "ts_ms", "type": ["null", "long"]},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ]}

TWEETS = [
    {"id": "1", "text": "eth up big", "symbol": "ETH", "ts_ms": 1704100000000,
     "score": 0.75, "tags": ["bull", "eth"]},
    {"id": "2", "text": None, "symbol": "SOL", "ts_ms": None,
     "score": -0.25, "tags": []},
    {"id": "3", "text": "shib slow", "symbol": "SHIB", "ts_ms": 1704100060000,
     "score": 0.0, "tags": ["meme"]},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_warehouse_reads_real_avro_bytes(spark, tmp_path, codec):
    """S5 live: real Avro container bytes flow through read_warehouse
    via the pure-Python OCF reader — NOT the parquet fallback (the files
    aren't parquet, so any fallback would crash)."""
    from big_data_crypto_sentiment_spark.sources import write_avro
    d = tmp_path / f"capture_{codec}"
    d.mkdir()
    write_avro(str(d / "a.avro"), TWEETS[:2], TWEET_AVRO_SCHEMA, codec)
    write_avro(str(d / "b.avro"), TWEETS[2:], TWEET_AVRO_SCHEMA, codec)
    df = read_warehouse(spark, str(d), fmt="avro")
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3"}
    assert rows["2"].text is None and rows["2"].ts_ms is None
    assert rows["1"].score == 0.75
    assert list(rows["1"].tags) == ["bull", "eth"]
    assert df.schema["ts_ms"].dataType.simpleString() == "bigint"


def test_avro_roundtrip_empty_file(spark, tmp_path):
    from big_data_crypto_sentiment_spark.sources import read_avro, write_avro
    p = str(tmp_path / "empty.avro")
    write_avro(p, [], TWEET_AVRO_SCHEMA)
    df = read_avro(spark, p)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        f["name"] for f in TWEET_AVRO_SCHEMA["fields"]]


def test_warehouse_fallback_reads_parquet(spark):
    df = read_warehouse(spark, "/root/testdata/sf0.001/part.parquet",
                        fmt="avro")
    assert df.count() > 0


def test_warehouse_no_fallback_raises_not_implemented(spark, tmp_path):
    with pytest.raises(NotImplementedError, match="avro"):
        read_warehouse(spark, str(tmp_path / "nope.avro"), fmt="avro")


def test_read_evolved_merges_schema_versions(spark, tmp_path):
    from big_data_crypto_sentiment_spark.sources.warehouse import (
        read_evolved,
    )

    path = str(tmp_path / "evolved")
    # v1 files: no `quality` column; v2 adds it
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string") \
         .coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame([(3, "c", 0.5)],
                          "doc_id long, text string, quality double") \
         .coalesce(1).write.mode("append").parquet(path)

    df = read_evolved(spark, path)
    assert set(df.columns) == {"doc_id", "text", "quality"}
    rows = {r.doc_id: r.quality for r in df.collect()}
    assert rows[1] is None and rows[2] is None and rows[3] == 0.5

    # the pinned-contract path: a column absent from EVERY file still
    # materializes with the declared type
    df2 = read_evolved(spark, path,
                       required={"quality": "double", "lang": "string"})
    assert dict(df2.dtypes)["lang"] == "string"
    assert all(r.lang is None for r in df2.collect())


# --- SURVEY §1.3 faithful-decimal price mode ---
def test_decimal_mode_preserves_sub_double_precision(spark):
    """Two planted BTC quotes differ by 1e-18 — below double precision.
    Decimal mode must keep them distinct; double mode (the reference's
    lossy semantics, deliberately unchanged) must conflate them."""
    from decimal import Decimal

    from big_data_crypto_sentiment_spark.queries.ingestion import (
        PRICES_HP_CSV,
    )
    from big_data_crypto_sentiment_spark.sources import read_prices_csv

    dec = read_prices_csv(spark, PRICES_HP_CSV, decimal_mode=True)
    assert dict(dec.dtypes)["price"] == "decimal(38,18)"
    btc_dec = {r.price for r in dec.filter("symbol = 'BTC'").collect()}
    assert len(btc_dec) == 2
    assert (max(btc_dec) - min(btc_dec)) == Decimal("1E-18")

    dbl = read_prices_csv(spark, PRICES_HP_CSV)
    assert dict(dbl.dtypes)["price"] == "double"
    btc_dbl = {r.price for r in dbl.filter("symbol = 'BTC'").collect()}
    assert len(btc_dbl) == 1  # lossy parse conflates them


def test_decimal_mode_flows_exactly_through_flagship_aggregates(spark):
    """A decimal-mode price read must not round in aggregation: a plain
    decimal sum of 1e-18-grade quotes keeps every digit."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from big_data_crypto_sentiment_spark.queries.ingestion import (
        PRICES_HP_CSV,
    )
    from big_data_crypto_sentiment_spark.sources import read_prices_csv

    p = read_prices_csv(spark, PRICES_HP_CSV, decimal_mode=True)
    got = {r.symbol: r.s for r in
           p.groupBy("symbol").agg(F.sum("price").alias("s")).collect()}
    assert got["SHIB"] == Decimal("0.000007800000000001")
    assert got["BTC"] == Decimal("86500.246913578024691357")


def test_double_mode_unchanged_by_decimal_flag(spark):
    """Parity guard: the default read of the original fixture is
    byte-identical to the pre-flag behavior (schema + values)."""
    from big_data_crypto_sentiment_spark.queries.ingestion import PRICES_CSV
    from big_data_crypto_sentiment_spark.sources import read_prices_csv

    df = read_prices_csv(spark, PRICES_CSV)
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["string", "double", "bigint", "timestamp"]
    rows = sorted((r.symbol, r.price) for r in df.collect())
    assert rows == [("ETH", 2700.5), ("ETH", 2701.75), ("FTM", 0.108),
                    ("SHIB", 7.8e-06), ("SOL", 127.25), ("SOL", 128.0)]
