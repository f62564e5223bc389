"""curate_funnel_stats pinned on a PLANTED corpus that exercises every
stage leg the driver fixtures cannot: the fixture documents have NO
exact-dup groups below sf0.1 and no >50%-span-duplicated docs at any
SF, so the oracle's drop_dup / drop_span_dup arms only ever hash
zeros there. This corpus plants exact duplicates, a heavy span-dup
pair, quality failures (short + CTA spam), a repetition bomb, and a
benchmark-gram contamination hit, runs the REAL Spark funnel and the
REAL ORACLE SQL side by side, and requires (a) exact agreement on
every hashed column and (b) every exercised drop count > 0.
"""

import hashlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _bucket(v, mod=100) -> int:
    hx = hashlib.md5(str(v).encode()).hexdigest()
    return int(hx[:15], 16) % mod


def _corpus():
    """70 docs, ~20 words each, lang/source columns like the fixture
    (the benchmark hash slice is empty below doc_id 62, so the corpus
    must reach past it), then four edge texts."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango the of and to in").split()
    docs = []
    for i in range(70):
        words = [base[(i * 7 + j) % len(base)] + str((i + j) % 9)
                 for j in range(20)]
        # keep the stopword ratio above the C4 cut
        words[3], words[11] = "the", "of"
        docs.append(" ".join(words))
    # exact duplicates (normalized): 2 groups
    docs[4] = docs[2]
    docs[9] = docs[7].upper()          # lower() collapses it
    # heavy span duplication: two docs sharing one long block
    block = " ".join(f"shared{j} the" for j in range(20))
    docs[12] = block + " tail12a tail12b"
    docs[13] = block + " tail13a tail13b tail13c"
    # quality failures
    docs[15] = "too short here"                      # < 5 words
    docs[16] = docs[16] + " join vip telegram now"   # CTA spam
    # repetition bomb
    docs[17] = " ".join(["spam"] * 40)
    # contamination: find a benchmark doc id and share a 5-gram
    bench_ids = [i for i in range(70) if _bucket(i) < 5]
    assert bench_ids, "corpus too small to contain a benchmark slice"
    gram = "zeta eta theta iota kappa"
    docs[bench_ids[0]] = gram + " " + docs[bench_ids[0]]
    victim = next(i for i in range(70)
                  if i not in bench_ids and i not in
                  (2, 4, 7, 9, 12, 13, 15, 16, 17))
    docs[victim] = docs[victim] + " " + gram
    # edge texts: two NULLs (in no count on either side), an empty doc
    # and a whitespace-only doc (both counted, distinct contents)
    return docs + [None, None, "", "   "]


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("planted_sf")
    docs = _corpus()
    tbl = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": docs,
        "lang": ["en"] * len(docs),
        "source": [f"src{i % 3}" for i in range(len(docs))],
        "n_chars": pa.array([None if t is None else len(t) for t in docs],
                            pa.int64()),
    })
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_funnel_oracle_agrees_on_planted_corpus(spark, planted_dir):
    from big_data_crypto_sentiment_spark.queries.funnel import (
        ORACLE,
        q_curate_funnel_stats,
    )
    got = q_curate_funnel_stats(spark, planted_dir).first().asDict()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{planted_dir}/documents.parquet')")
    want = con.sql(ORACLE["curate_funnel_stats"]).df().iloc[0].to_dict()
    for k, v in want.items():
        assert int(got[k]) == int(v), (k, got[k], v)
    # every planted leg actually fired
    assert got["n_docs"] == 72             # the two NULL texts excluded
    assert got["drop_quality"] >= 2        # short + CTA
    assert got["drop_dup"] == 2            # two exact-dup groups
    assert got["drop_contaminated"] >= 1   # the shared benchmark gram
    assert got["drop_repetitive"] >= 1     # the spam bomb
    assert got["drop_span_dup"] >= 1       # the shared-block pair
    # contract flags hold off-fixture too
    assert got["sem_dup_in_bound"] == 1
    assert got["lm_drop_in_bound"] == 1
    assert got["kept_consistent"] == 1
