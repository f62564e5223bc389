"""Sparse lexical retrieval: TF-IDF document vectors + inverted-index
cosine top-k over the `documents` table (BASELINE-mandated similarity
family; no reference twin — the reference stops at dense sentiment
features).

Spark-first shape:
  * The IDF table is a DRIVER ARTIFACT (top-K vocabulary by document
    frequency — the same argument as the tokenizer vocab in packing.py):
    one partial-combined hash agg builds it, and the scoring pass then
    never joins the corpus against a weights table.
  * Pair generation is an INVERTED-INDEX equality join on the term —
    a query-term posting meets only the docs containing that term,
    never the whole corpus (the dense brute-force sibling in
    similarity.py is the O(|Q|·N) baseline; this is the sparse scale
    path). Ubiquitous terms are the skew risk: `max_df_frac` drops
    terms present in more than that fraction of docs (the classic
    stopword cut — same bound as dedup.py's hot-shingle cut), keeping
    every posting list short.
  * Per-(query, doc) scores come from ONE combinable groupBy over the
    joined postings; top-k is a bounded per-query window, never a
    global sort.

Float portability (the driver hash-compares against DuckDB): IDF values
are frozen as INTEGER 1e-4 units driver-side, so tf·idf weights, the
dot product, and both norms are EXACT integer sums on both engines
(order-free); the only float ops are the final sqrt/divide — IEEE
correctly-rounded, hence bit-identical — and one round(6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import literal_map, session_artifact, table

TFIDF_VOCAB_K = 1000     # driver-artifact vocabulary cap (surfaced, not silent)
TFIDF_TOP_K = 5
TFIDF_QUERY_PCT = 2      # hash slice of docs acting as the query set
TFIDF_MAX_DF_FRAC = 1.0  # stopword cut: the FIXTURE vocabulary is degenerate
                         # (~31 terms, each in ~every doc), so the demo keeps
                         # df=N terms — which makes every posting list the
                         # whole corpus and the join fan-out |Q|·|vocab|·N,
                         # the worst case this operator admits. That shape is
                         # kept registered as the documented stress case; the
                         # SCALE path — short posting lists behind a real
                         # stopword cut — is exercised by sim_tfidf_zipf_topk
                         # below, which plants a power-law vocabulary and runs
                         # max_df_frac = 0.5.
_IDF_SCALE = 10_000      # idf4 = round((ln((N+1)/(df+1)) + 1) * 1e4)

# --- Zipf-realistic variant: planted power-law vocabulary ---
# Deterministic from doc_id on BOTH engines (pii_redact precedent): token
# slot s of doc i draws m uniform from 1..ZIPF_N via the shared md5
# bucket of "i:s", then takes term rank r = floor(ZIPF_N / m) — the
# divisor construction, P(r) ∝ 1/r², a Zipf(2) vocabulary of ~2·√N
# distinct terms with exact engine parity (md5 is bit-identical, the one
# division is IEEE double — correctly rounded — and floor's boundary
# cases only arise when m divides ZIPF_N, where the quotient is exactly
# representable). Rank 1 lands in ~half the token slots, so every doc
# contains it → its df is ~N and the max_df_frac = 0.5 stopword cut
# genuinely fires, leaving every surviving posting list short — the
# inverted index's scale shape, now oracle-checked and benched.
ZIPF_N = 10_000
ZIPF_BASE_TOKENS = 30    # doc length = 30 + doc_id % 20
ZIPF_MAX_DF_FRAC = 0.5


def tfidf_idf_table(docs: DataFrame, text_col: str = "text",
                    vocab_k: int = TFIDF_VOCAB_K,
                    max_df_frac: float = TFIDF_MAX_DF_FRAC):
    """(term -> integer idf4 dict, truncated?) — smooth idf over per-doc
    distinct terms, vocabulary capped at the top-K by (df desc, term)."""
    n_docs = docs.count()
    rows = (docs.select(F.explode(F.array_distinct(
                F.split(F.col(text_col), " "))).alias("term"))
                .groupBy("term").agg(F.count("*").alias("df"))
                .filter(F.col("df") <= int(max_df_frac * n_docs))
                .orderBy(F.desc("df"), "term")
                .limit(vocab_k + 1)
                .collect())
    truncated = len(rows) > vocab_k
    idf = {r.term: round((math.log((n_docs + 1) / (r.df + 1)) + 1)
                         * _IDF_SCALE)
           for r in rows[:vocab_k]}
    return idf, truncated


def _weights(docs: DataFrame, idf: dict[str, int], id_col: str,
             text_col: str) -> DataFrame:
    """(id, term, w, norm2): integer tf·idf4 weights + per-doc squared
    norm. One combinable (id, term) hash agg + one per-id window."""
    idfmap = literal_map(idf)
    tf = (docs.select(F.col(id_col),
                      F.explode(F.split(F.col(text_col), " ")).alias("term"))
              .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    w = (tf.withColumn("_idf", F.element_at(idfmap, F.col("term")))
           .filter(F.col("_idf").isNotNull())
           .select(id_col, "term",
                   (F.col("tf").cast("bigint") * F.col("_idf")).alias("w")))
    return w.withColumn(
        "norm2",
        F.sum(F.col("w") * F.col("w")).over(Window.partitionBy(id_col)))


# Persisted inverted-index DFs are session artifacts of kind
# "retrieval.weights", keyed (entry, sf_dir). Repeat invocations in one
# session (bench runs all queries; tests refit) REUSE the cached index
# instead of stacking a fresh persisted RDD per call, which previously
# leaked for the session lifetime. Bounded: one entry per registered
# query config.
def _cached_weights(docs: DataFrame, idf: dict[str, int], id_col: str,
                    text_col: str, cache_key: tuple | None) -> DataFrame:
    """Get-or-build the persisted weights table. One helper so the
    query path and the bench artifact warmer construct the SAME key —
    key drift here would silently double the persisted index."""
    def build() -> DataFrame:
        return _weights(docs, idf, id_col, text_col).persist()
    if cache_key is None:
        return build()
    return session_artifact(docs.sparkSession,
                            ("retrieval.weights", *cache_key), build)


def tfidf_topk(docs: DataFrame, idf: dict[str, int],
               query_pred, k: int = TFIDF_TOP_K,
               id_col: str = "doc_id",
               text_col: str = "text",
               cache_key: tuple | None = None) -> DataFrame:
    """Top-k corpus docs per query doc by TF-IDF cosine.

    `query_pred` is a Column predicate over the doc id selecting the
    query slice; self-pairs are excluded. Output: (query_id, doc_id,
    cos, rank), rank 1-based, ties broken on doc_id."""
    # both join sides derive from the same weights DF; persist it so the
    # tokenize+tf+norm pipeline runs once, not twice (this DF IS the
    # inverted index — narrow (id, term, w, norm2) rows; at warehouse
    # scale it would be written out bucketed by term instead)
    wts = _cached_weights(docs, idf, id_col, text_col, cache_key)
    q = (wts.filter(query_pred(F.col(id_col)))
            .select(F.col(id_col).alias("query_id"),
                    "term", F.col("w").alias("wq"),
                    F.col("norm2").alias("nq2")))
    d = wts.select(F.col(id_col).alias("doc_id"), "term",
                   F.col("w").alias("wd"), F.col("norm2").alias("nd2"))
    # broadcast the query postings: |Q|·|vocab| rows at most. The join
    # then streams the corpus postings with NO shuffle on the term key —
    # crucial here because term cardinality (= vocab) is far below the
    # partition count, so a shuffled join would funnel everything into
    # |vocab| tasks (worst with stopword-y terms). The corpus side's
    # only shuffles remain the tf agg + norm window, both keyed by doc.
    scored = (F.broadcast(q).join(d, "term")
               .filter(F.col("doc_id") != F.col("query_id"))
               .groupBy("query_id", "doc_id")
               .agg(F.sum(F.col("wq") * F.col("wd")).alias("dot"),
                    F.min("nq2").alias("nq2"), F.min("nd2").alias("nd2"))
               .select("query_id", "doc_id",
                       (F.col("dot").cast("double")
                        / (F.sqrt(F.col("nq2").cast("double"))
                           * F.sqrt(F.col("nd2").cast("double"))))
                       .alias("_cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "doc_id",
                          F.round("_cos", 6).alias("cos"), "rank"))


def q_sim_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    from .sampling import _hash_bucket
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "text")
    # r16: idf + weights both derive from ONE shared tokenize+tf pass
    # (was: the idf's array_distinct df pass AND the weights' tf pass
    # each re-tokenized the corpus) — values bit-identical
    tf = _tf_with_dl(d, "sim_tfidf_topk_tf", sf_dir)
    idf = _idf_from_tf(d.count, tf, "sim_tfidf_topk", sf_dir,
                       TFIDF_MAX_DF_FRAC)
    _weights_from_tf(tf, idf, "sim_tfidf_topk", sf_dir)
    return tfidf_topk(
        d, idf, lambda c: _hash_bucket(c, 100) < TFIDF_QUERY_PCT,
        cache_key=("sim_tfidf_topk", sf_dir))


def zipf_planted_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) with the deterministic divisor-Zipf token stream
    (see module notes) — the realistic-vocabulary stand-in for the
    fixture's degenerate ~31-term vocabulary."""
    from .sampling import _hash_bucket
    did = F.col("doc_id")
    n_tok = F.lit(ZIPF_BASE_TOKENS) + (did % 20).cast("int")

    def term(s):
        key = F.concat(did.cast("string"), F.lit(":"), s.cast("string"))
        m = _hash_bucket(key, ZIPF_N) + 1
        return F.concat(
            F.lit("z"),
            F.floor(F.lit(float(ZIPF_N)) / m).cast("long").cast("string"))

    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.transform(F.sequence(F.lit(1), n_tok), term))
         .alias("text"))


def q_sim_tfidf_zipf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import _hash_bucket
    d = _zipf_corpus(spark, sf_dir)
    idf = _zipf_idf(spark, sf_dir)
    _zipf_weights(spark, sf_dir)   # seeds the weights artifact below
    return tfidf_topk(
        d, idf, lambda c: _hash_bucket(c, 100) < TFIDF_QUERY_PCT,
        cache_key=("sim_tfidf_zipf_topk", sf_dir))


# --- Okapi BM25 (the other standard sparse lexical ranker) ---
# Same inverted-index scale shape as tfidf_topk, but BM25's per-term
# contribution depends only on the DOC side (tf saturation + length
# normalization), so the corpus index precomputes the complete per-
# (doc, term) partial score and a query is just Σ over its distinct
# terms — one broadcast postings join + one combinable sum, no norms.
# Float portability: the per-term score is frozen to an INTEGER in
# 1e-4 units ON BOTH ENGINES with the identical expression tree
# (idf4·tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)), one ROUND) — avgdl is
# the only shared scalar, an exact BIGINT sum ÷ count (same IEEE
# division both sides), so the final per-pair sum is exact integer
# math and rank order is engine-independent.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_postings(docs: DataFrame, idf: dict[str, int], avgdl: float,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, term, s4): integer per-(doc, term) BM25 partial scores —
    the corpus-side index. One (id, term) hash agg; dl rides along as
    a grouping key (constant per doc, no extra shuffle)."""
    idfmap = literal_map(idf)
    words = F.split(F.col(text_col), " ")
    tf = (docs.select(F.col(id_col), F.size(words).alias("dl"),
                      F.explode(words).alias("term"))
              .groupBy(id_col, "dl", "term")
              .agg(F.count("*").alias("tf")))
    num = (F.col("_idf").cast("double") * F.col("tf")
           * F.lit(BM25_K1 + 1.0))
    den = (F.col("tf") + F.lit(BM25_K1)
           * (F.lit(1.0 - BM25_B)
              + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)))
    return (tf.withColumn("_idf", F.element_at(idfmap, F.col("term")))
              .filter(F.col("_idf").isNotNull())
              .select(id_col, "term",
                      F.round(num / den).cast("bigint").alias("s4")))


# The planted corpus itself: ~35 md5-bucket draws + string build per
# doc, re-executed by EVERY corpus action (idf's count + df agg, the
# weights pass, avgdl, the postings pass — five regenerations per index
# build unless persisted). Persisted once per (session, sf_dir).
def _zipf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    return session_artifact(
        spark, ("retrieval.zipf_corpus", sf_dir),
        lambda: zipf_planted_docs(
            rebalance_scan(table(spark, sf_dir, "documents"))
            .select("doc_id")).persist())


# r16 (guide §1.2: remove redundant passes): the zipf index build paid
# FOUR tokenize+aggregate corpus passes — the idf's distinct-term df
# agg, the tf-idf weights' tf agg, the avgdl scan, and the BM25
# postings' tf agg. All four derive from ONE (doc_id, dl, term, tf)
# table: df(term) = row count per term (each (doc, term) appears once),
# Σdl over docs = Σtf, and both weight tables are projections of it.
# Persisted per (appId, entry, sf_dir); every derived value is
# bit-identical (exact integer counts feeding the same expressions).
def _tf_with_dl(docs: DataFrame, entry: str, sf_dir: str) -> DataFrame:
    """Get-or-build the persisted (doc_id, dl, term, tf) table for a
    corpus. Grouping by (doc_id, dl, term) equals grouping by
    (doc_id, term) — dl is functionally dependent on doc_id — so every
    consumer sees exactly the counts its own tokenize pass produced."""
    def build() -> DataFrame:
        words = F.split(F.col("text"), " ")
        return (docs.select("doc_id", F.size(words).alias("dl"),
                            F.explode(words).alias("term"))
                    .groupBy("doc_id", "dl", "term")
                    .agg(F.count("*").alias("tf"))
                    .persist())
    return session_artifact(docs.sparkSession,
                            ("retrieval.tf_dl", entry, sf_dir), build)


def _idf_from_tf(n_docs_fn, tf: DataFrame, entry: str, sf_dir: str,
                 max_df_frac: float) -> dict[str, int]:
    """idf dict off the shared tf table — df(term) is the per-term row
    count (each (doc, term) appears once), exactly what the standalone
    tfidf_idf_table's array_distinct pass counted. The idf dict is
    itself corpus actions (count + df agg collect), so it is a session
    artifact: rebuilding it when the postings/weights will hit anyway
    (rrf re-entry, repeat bench/check invocations) wastes full scans.
    max_df_frac IS part of the key: a same-entry call with a different
    frac must rebuild, not silently reuse a stale vocab. n_docs_fn is a
    thunk so a hit pays no count() job."""
    def build() -> dict[str, int]:
        n_docs = n_docs_fn()
        rows = (tf.groupBy("term").agg(F.count("*").alias("df"))
                  .filter(F.col("df") <= int(max_df_frac * n_docs))
                  .orderBy(F.desc("df"), "term")
                  .limit(TFIDF_VOCAB_K + 1)
                  .collect())
        return {r.term: round((math.log((n_docs + 1) / (r.df + 1)) + 1)
                              * _IDF_SCALE)
                for r in rows[:TFIDF_VOCAB_K]}
    return session_artifact(
        tf.sparkSession, ("retrieval.idf", entry, sf_dir, max_df_frac),
        build)


def _weights_from_tf(tf: DataFrame, idf: dict[str, int], entry: str,
                     sf_dir: str) -> DataFrame:
    """The persisted tf-idf weights table derived from the shared tf
    table (was: its own tokenize+tf corpus pass). Seeds the SAME
    weights artifact tfidf_topk consults."""
    def build() -> DataFrame:
        idfmap = literal_map(idf)
        w = (tf.withColumn("_idf", F.element_at(idfmap, F.col("term")))
               .filter(F.col("_idf").isNotNull())
               .select("doc_id", "term",
                       (F.col("tf").cast("bigint") * F.col("_idf"))
                       .alias("w")))
        return w.withColumn(
            "norm2", F.sum(F.col("w") * F.col("w"))
                      .over(Window.partitionBy("doc_id"))).persist()
    return session_artifact(tf.sparkSession,
                            ("retrieval.weights", entry, sf_dir), build)


def _zipf_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tf_with_dl(_zipf_corpus(spark, sf_dir), "zipf_tf", sf_dir)


# r17 (guide §1.2): the zipf doc count is one bounded driver scalar
# consumed by BOTH the idf build and the BM25 avgdl — it was counted
# twice (two jobs over the corpus). A session artifact per
# (appId, sf_dir); same integer either way.
def _zipf_ndocs(spark: SparkSession, sf_dir: str) -> int:
    return session_artifact(spark, ("retrieval.zipf_ndocs", sf_dir),
                            lambda: _zipf_corpus(spark, sf_dir).count())


def _zipf_idf(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    return _idf_from_tf(lambda: _zipf_ndocs(spark, sf_dir),
                        _zipf_tf(spark, sf_dir),
                        "sim_tfidf_zipf_topk", sf_dir, ZIPF_MAX_DF_FRAC)


def _zipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _weights_from_tf(_zipf_tf(spark, sf_dir),
                            _zipf_idf(spark, sf_dir),
                            "sim_tfidf_zipf_topk", sf_dir)


def zipf_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Get-or-build the persisted BM25 postings for the zipf corpus
    (the shared index `sim_bm25_topk` and `sim_rrf_hybrid` rank from)."""
    def build() -> DataFrame:
        # idf + avgdl only feed the cached postings — computing them on
        # a hit (e.g. the rrf_hybrid re-entry) would re-run
        # corpus actions whose results are discarded. Same idf as the
        # zipf tfidf entry: identical corpus + max_df → one build
        # serves both rankers. All inputs derive from the shared
        # _zipf_tf table (r16): Σtf IS the exact token total the old
        # per-doc size(split) scan summed, and the doc count comes off
        # the persisted corpus — no tokenize pass left in this build.
        tfdl = _zipf_tf(spark, sf_dir)
        idf = _zipf_idf(spark, sf_dir)
        # avgdl: exact integer token total / doc count. float() FIRST
        # to mirror DuckDB's CAST(SUM AS DOUBLE)/n (round the sum to
        # double, then divide) — Python's int/int is correctly rounded
        # from the exact rational and diverges past 2^53 tokens
        s = tfdl.agg(F.sum("tf").alias("s")).first()["s"]
        avgdl = float(s) / _zipf_ndocs(spark, sf_dir)
        idfmap = literal_map(idf)
        num = (F.col("_idf").cast("double") * F.col("tf")
               * F.lit(BM25_K1 + 1.0))
        den = (F.col("tf") + F.lit(BM25_K1)
               * (F.lit(1.0 - BM25_B)
                  + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)))
        return (tfdl
                  .withColumn("_idf",
                              F.element_at(idfmap, F.col("term")))
                  .filter(F.col("_idf").isNotNull())
                  .select("doc_id", "term",
                          F.round(num / den).cast("bigint")
                           .alias("s4"))
                  .persist())
    return session_artifact(
        spark, ("retrieval.weights", "sim_bm25_topk", sf_dir), build)


def bm25_rank(postings: DataFrame, q: DataFrame) -> DataFrame:
    """Rank the corpus for a (query_id, term) query frame over a BM25
    postings index: broadcast the query terms, one equality join on
    term, one (query, doc) agg, one bounded top-k window. Cost is
    |queries| × Σ df(query terms) — linear in the INDEX for a fixed
    query workload (the 100-TB shape: the index scales, the query
    batch doesn't)."""
    scored = (F.broadcast(q).join(postings, "term")
               .filter(F.col("doc_id") != F.col("query_id"))
               .groupBy("query_id", "doc_id")
               .agg(F.sum("s4").alias("s4sum")))
    w = Window.partitionBy("query_id").orderBy(F.desc("s4sum"), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= TFIDF_TOP_K)
                  .select("query_id", "doc_id",
                          F.round(F.col("s4sum").cast("double")
                                  / _IDF_SCALE, 4).alias("bm25"),
                          "rank"))


def q_sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import _hash_bucket
    postings = zipf_bm25_index(spark, sf_dir)
    # postings are already unique per (doc, term) — no distinct
    # needed. NB the query set here is a fixed PERCENT of the corpus
    # (oracle-pinned), so this entry's total cost grows ~quadratically
    # with corpus size BY CONSTRUCTION — it exercises correctness at
    # fixture SFs. Scaling measurements use bm25_rank with a fixed
    # query batch (tools/bench_scale.py).
    q = (postings.filter(_hash_bucket(F.col("doc_id"), 100)
                         < TFIDF_QUERY_PCT)
                 .select(F.col("doc_id").alias("query_id"), "term"))
    return bm25_rank(postings, q)


def warm_zipf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the shared zipf-corpus retrieval artifacts into the
    session caches: the integer-idf vocab, the persisted tf-idf
    weights table (the inverted index ``sim_tfidf_zipf_topk`` and
    ``sim_rrf_hybrid`` rank from) and the persisted BM25 postings
    (``sim_bm25_topk`` / ``sim_rrf_hybrid``). Returns a narrow union
    of both persisted tables so ONE materialization forces both
    builds — bench.py times that as its own ``artifact:`` entry so the
    one-time index build isn't misattributed to whichever ranker
    happens to run first in registry order (the r8 judge finding for
    the MinHash shingle cache, same fix shape)."""
    wts = _zipf_weights(spark, sf_dir)
    postings = zipf_bm25_index(spark, sf_dir)
    return wts.select("doc_id").unionAll(postings.select("doc_id"))


# --- Reciprocal Rank Fusion (Cormack et al. 2009): the standard hybrid-
#     retrieval combiner — fuse the TF-IDF and BM25 rankings per query
#     with score Σ 1/(k + rank). Pure composition: a full-outer join of
#     the two bounded top-k outputs (≤ 2k rows per query) + a bounded
#     per-query rerank window; the expensive work is the two upstream
#     retrievers, both session-cached. The fusion score is a TWO-TERM
#     coalesce sum (not an agg), so there is no float accumulation
#     order to disagree on between engines.
RRF_K = 60


def rrf_fuse(a: DataFrame, b: DataFrame, k: int = RRF_K,
             top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Fuse two (query_id, doc_id, ..., rank) rankings into
    (query_id, doc_id, rrf, rank)."""
    ra = a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(k) + F.col(c)), F.lit(0.0))
    fused = (ra.join(rb, ["query_id", "doc_id"], "full_outer")
               .select("query_id", "doc_id",
                       (term("rank_a") + term("rank_b")).alias("_rrf")))
    w = Window.partitionBy("query_id").orderBy(F.desc("_rrf"), "doc_id")
    return (fused.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= top_k)
                 .select("query_id", "doc_id",
                         F.round("_rrf", 6).alias("rrf"), "rank"))


def q_sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_fuse(q_sim_tfidf_zipf_topk(spark, sf_dir),
                    q_sim_bm25_topk(spark, sf_dir))


QUERIES = {
    "sim_tfidf_topk": q_sim_tfidf_topk,
    "sim_tfidf_zipf_topk": q_sim_tfidf_zipf_topk,
    "sim_bm25_topk": q_sim_bm25_topk,
    "sim_rrf_hybrid": q_sim_rrf_hybrid,
}


def _oracle_tfidf(src_cte: str, src: str, max_df_frac: float) -> str:
    """Shared oracle body over a (doc_id, text) source CTE."""
    from .sampling import _sql_hash_bucket
    return f"""
WITH {src_cte}params AS (
  SELECT COUNT(*) AS n FROM {src}
), dterms AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
  FROM {src}
), idf AS (
  SELECT term,
         CAST(ROUND((LN(CAST(n + 1 AS DOUBLE) / (COUNT(*) + 1)) + 1)
                    * {_IDF_SCALE}) AS BIGINT) AS idf4
  FROM dterms CROSS JOIN params
  GROUP BY term, n
  HAVING COUNT(*) <= {max_df_frac} * n
  ORDER BY COUNT(*) DESC, term LIMIT {TFIDF_VOCAB_K}
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {src}
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), w AS (
  SELECT t.doc_id, t.term, t.tf * i.idf4 AS w
  FROM tf t JOIN idf i ON t.term = i.term
), wn AS (
  SELECT doc_id, term, w,
         SUM(w * w) OVER (PARTITION BY doc_id) AS norm2
  FROM w
), scored AS (
  SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
         CAST(SUM(q.w * d.w) AS DOUBLE)
           / (SQRT(CAST(MIN(q.norm2) AS DOUBLE))
              * SQRT(CAST(MIN(d.norm2) AS DOUBLE))) AS _cos
  FROM wn q JOIN wn d ON q.term = d.term
  WHERE {_sql_hash_bucket("q.doc_id", 100)} < {TFIDF_QUERY_PCT}
    AND d.doc_id <> q.doc_id
  GROUP BY q.doc_id, d.doc_id
), ranked AS (
  SELECT query_id, doc_id, _cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY _cos DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, ROUND(_cos, 6) AS cos, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def _zipf_src_cte() -> str:
    """The divisor-Zipf plant as a DuckDB CTE — token parity with
    zipf_planted_docs: same md5 bucket of 'doc_id:slot', same IEEE
    double division + floor."""
    from .dedup import _sql_hex2int
    hx = ("substring(md5(CAST(doc_id AS VARCHAR) || ':' "
          "|| CAST(s AS VARCHAR)), 1, 15)")
    rank = (f"CAST(FLOOR({float(ZIPF_N)} / "
            f"(({_sql_hex2int(hx)} % {ZIPF_N}) + 1)) AS BIGINT)")
    return f"""zsrc AS (
  SELECT doc_id,
         array_to_string(list_transform(
           range(1, {ZIPF_BASE_TOKENS} + CAST(doc_id % 20 AS INT) + 1),
           s -> 'z' || CAST({rank} AS VARCHAR)), ' ') AS text
  FROM documents
), """


def _oracle_bm25() -> str:
    from .sampling import _sql_hash_bucket
    return f"""
WITH {_zipf_src_cte()}params AS (
  SELECT COUNT(*) AS n FROM zsrc
), avg_dl AS (
  SELECT CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
           AS a
  FROM zsrc
), dterms AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
  FROM zsrc
), idf AS (
  SELECT term,
         CAST(ROUND((LN(CAST(n + 1 AS DOUBLE) / (COUNT(*) + 1)) + 1)
                    * {_IDF_SCALE}) AS BIGINT) AS idf4
  FROM dterms CROSS JOIN params
  GROUP BY term, n
  HAVING COUNT(*) <= {ZIPF_MAX_DF_FRAC} * n
  ORDER BY COUNT(*) DESC, term LIMIT {TFIDF_VOCAB_K}
), tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM zsrc
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, dl, term
), post AS (
  SELECT t.doc_id, t.term,
         CAST(ROUND(CAST(i.idf4 AS DOUBLE) * t.tf * {BM25_K1 + 1.0}
                    / (t.tf + {BM25_K1} * ({1.0 - BM25_B}
                       + {BM25_B} * t.dl / a))) AS BIGINT) AS s4
  FROM tf t JOIN idf i USING (term) CROSS JOIN avg_dl
), q AS (
  SELECT doc_id AS query_id, term FROM post
  WHERE {_sql_hash_bucket("doc_id", 100)} < {TFIDF_QUERY_PCT}
), scored AS (
  SELECT q.query_id, p.doc_id, SUM(p.s4) AS s4sum
  FROM q JOIN post p USING (term)
  WHERE p.doc_id <> q.query_id
  GROUP BY q.query_id, p.doc_id
), ranked AS (
  SELECT query_id, doc_id, s4sum,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s4sum DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id,
       ROUND(CAST(s4sum AS DOUBLE) / {_IDF_SCALE}, 4) AS bm25, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def _oracle_rrf() -> str:
    """Both retriever oracles verbatim as parenthesized WITH-subqueries,
    fused by the same two-term coalesce sum."""
    t = lambda c: f"COALESCE(1.0 / ({RRF_K} + {c}), 0.0)"  # noqa: E731
    return f"""
WITH ta AS (SELECT * FROM (
{_oracle_tfidf(_zipf_src_cte(), "zsrc", ZIPF_MAX_DF_FRAC)}
) x), tb AS (SELECT * FROM (
{_oracle_bm25()}
) y), fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.doc_id, b.doc_id) AS doc_id,
         {t('a.rank')} + {t('b.rank')} AS _rrf
  FROM ta a FULL OUTER JOIN tb b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
), ranked AS (
  SELECT query_id, doc_id, _rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY _rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, doc_id, ROUND(_rrf, 6) AS rrf, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


ORACLE = {
    "sim_tfidf_topk": _oracle_tfidf("", "documents", TFIDF_MAX_DF_FRAC),
    "sim_tfidf_zipf_topk": _oracle_tfidf(_zipf_src_cte(), "zsrc",
                                         ZIPF_MAX_DF_FRAC),
    "sim_bm25_topk": _oracle_bm25(),
    "sim_rrf_hybrid": _oracle_rrf(),
}
