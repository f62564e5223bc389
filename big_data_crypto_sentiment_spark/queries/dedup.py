"""Deduplication operators — the large-scale training-data-pipeline
extension family (BASELINE-mandated; no direct reference twin, the
closest being the EDA duplicate-rate check,
eda/Data_Minions_EDA_Milestone4.ipynb cell 9).

Four tiers, each a standard corpus-dedup technique:
  * exact dedup        — hash-groupBy on normalized content, keep min id
  * n-gram Jaccard     — exact pairwise word-shingle similarity (oracle-
                         checked on a bounded slice; the generic operator
                         partitions by shingle, never all-pairs)
  * MinHash + LSH      — 32-perm signatures, 8 bands × 4 rows, candidate
                         pairs from band-bucket self-join, then exact
                         Jaccard verification (rows-only + pytest)
  * SimHash            — 16-bit sign-sum fingerprint per doc (rows-only +
                         pytest)

Scale notes (the whole point of this family):
  * NO all-pairs crossJoin anywhere. Pair generation always goes through
    an equality key (shingle, or (band, band_hash)) so Spark plans a
    shuffled hash join whose fan-out is bounded by bucket sizes, not N².
  * MinHash signatures: shingle hashing (md5 → h1/h2) is JVM array
    expressions; the 32-permutation min-fold is Arrow-vectorized numpy
    (one segmented min over the whole batch per permutation — r11,
    replacing 32 transform+array_min passes per row after BENCH_SCALE
    showed that fold dominating the family's wall). Still zero
    shuffles; the only shuffles are the candidate-pair self-join and
    the distinct. band_table_expr keeps the pure-expression twin and
    test_dedup.py pins them bit-for-bit equal.
  * Exact-verification joins carry the shingle arrays with the pair rows
    (two hash joins on doc_id) instead of collecting anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import session_artifact, table
from .text import _sql_normalized, normalized

SHINGLE_WORDS = 3
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.1
PAIR_SLICE_SOURCE = "src0"  # bounded slice for the oracle-checked pair query
# fixture word-soup docs have low pairwise overlap; the slice query uses a
# low cut so the oracle comparison exercises non-empty output
SLICE_JACCARD_THRESHOLD = 0.01


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def _shingles(col: str = "text"):
    """Distinct SHINGLE_WORDS-word shingles; requires >= SHINGLE_WORDS words
    (callers filter) because sequence() would run backwards otherwise."""
    w = _words(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (SHINGLE_WORDS - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, SHINGLE_WORDS)),
        )
    )


# --- exact dedup: hash-groupBy on normalized content (events.props) ---
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    norm = normalized(F.col("props"))
    return (ev.filter(F.col("props").isNotNull())
              .groupBy(norm.alias("content"))
              .agg(F.min("event_id").alias("keep_event_id"),
                   F.count("*").alias("n_copies"))
              .select(F.md5("content").alias("fingerprint"),
                      "keep_event_id", "n_copies"))


# --- cross-source duplicate-leak matrix: which sources copy from
#     which. One hash-groupBy on the content fingerprint, then pair
#     expansion WITHIN each duplicate group's distinct-source array
#     (bounded by the number of sources, not group size) — never a
#     corpus self-join. The audit a curation pipeline runs before
#     deciding per-source dedup precedence. ---
def _source_matrix(d: DataFrame, key) -> DataFrame:
    """The matrix core, shared by the exact- and prefix-fingerprint
    variants: one hash-groupBy on (key, source), group the per-source
    counts, expand pairs INSIDE each duplicate group's bounded
    source-count array."""
    per_src = (d.groupBy(key.alias("h"), "source")
                .agg(F.count("*").alias("c")))
    groups = (per_src.groupBy("h")
              .agg(F.sort_array(F.collect_list(F.struct("source", "c")))
                    .alias("sc"),
                   F.sum("c").alias("n"))
              .filter(F.col("n") >= 2))
    # per group: self-pair (s,s) iff s holds >= 2 copies; cross pairs
    # (a,b) a<b for every source combination present. The self-pair is
    # detected POSITIONALLY (j = 0: slice starts at x itself), not by
    # source equality — equality would misfire on NULLs
    pairs = F.expr(
        "filter(flatten(transform(sc, (x, i) -> "
        "transform(slice(sc, i + 1, size(sc) - i), "
        "(y, j) -> struct(x.source AS src_a, y.source AS src_b, "
        "IF(j = 0, x.c >= 2, true) AS keep)))), "
        "p -> p.keep)")
    return (groups.select(F.explode(pairs).alias("p"))
                  .select("p.src_a", "p.src_b")
                  .groupBy("src_a", "src_b")
                  .agg(F.count("*").alias("n_dup_groups"))
                  .orderBy("src_a", "src_b"))  # bounded: |sources|²


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full source co-occurrence matrix of duplicate groups, diagonal
    included: (s, s) counts groups with >= 2 copies INSIDE source s —
    the dominant dup mode on real crawls; (a, b), a < b counts groups
    spanning both. NOTE the fixtures contain NO exact-dup groups below
    sf0.1 at all (diagonal or cross) — see the DEFERRALS entry; the
    diagonal path is pinned by pytest. NULL text / NULL source rows
    are dropped on BOTH engines (DuckDB's equi-join drops NULL keys
    silently; being explicit keeps the twins aligned)."""
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull() & F.col("source").isNotNull()))
    norm = normalized(F.col("text"))
    return _source_matrix(d, F.md5(norm))


# first-k-words prefix fingerprint: the coarse leak key crawl pipelines
# use for syndicated leads / shared boilerplate openings — docs that
# start identically are near-certain copies of one wire item even when
# trailing content diverges. Unlike the exact key above, its dup
# groups exist at EVERY fixture SF, so this variant carries the
# family's driver-hash evidence at sf0.01 (VERDICT r9 #1).
PREFIX_FP_WORDS = 5


def q_dedup_source_matrix_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source co-occurrence matrix keyed on the PREFIX fingerprint
    (md5 of the first PREFIX_FP_WORDS whitespace-normalized lowercase
    words) — same matrix semantics as q_dedup_source_matrix, coarser
    key. Same single (h, source) hash-agg shape: at 100 TB the prefix
    slice additionally caps the bytes hashed per row (the exact key
    hashes whole documents)."""
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull() & F.col("source").isNotNull()))
    norm = normalized(F.col("text"))
    prefix = F.array_join(
        F.slice(F.split(norm, " "), 1, PREFIX_FP_WORDS), " ")
    return _source_matrix(d, F.md5(prefix))


# --- exact n-gram Jaccard pairs on a bounded slice (oracle-checked) ---
def _jaccard_pairs(docs: DataFrame, threshold: float,
                   max_shingle_df: int | None = None,
                   shingled: DataFrame | None = None) -> DataFrame:
    """All (doc_a < doc_b) pairs with shingle-Jaccard >= threshold.

    Pair generation is a self-join on the shingle key — the classic
    inverted-index formulation; never a crossJoin.

    max_shingle_df is the skew guard that keeps the self-join bounded on
    real corpora: shingles appearing in more than max_shingle_df docs
    (boilerplate, stop-phrases) are dropped from the inverted index
    BEFORE pair generation — a shingle with DF=d fans out into d·(d−1)/2
    pair rows, so one hot shingle can dominate the whole join. The cut
    only affects candidate RECALL (a pair sharing nothing but hot
    shingles is missed — the standard trade-off); reported Jaccard stays
    EXACT because surviving candidates are re-verified against the full
    shingle index. The hot set is small by construction (≤ corpus/max_df
    shingles) → broadcast anti-join, no extra shuffle of the index.

    `shingled` (the shingled_docs convention: (doc_id, shingles array),
    restricted to the same docs) reuses an already-materialized shingle
    frame instead of re-deriving it from raw text — same sets either
    way (both go through _shingles()'s array_distinct).
    """
    if shingled is not None:
        sh = shingled.select("doc_id",
                             F.explode("shingles").alias("shingle"))
    else:
        sh = (docs.filter(F.size(_words()) >= SHINGLE_WORDS)
                  .select("doc_id", F.explode(_shingles()).alias("shingle")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if max_shingle_df is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")))
                  .groupBy(F.col("a.doc_id").alias("doc_a"),
                           F.col("b.doc_id").alias("doc_b"))
                  .agg(F.count("*").alias("common")))
    else:
        hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
                 .filter(F.col("df") > max_shingle_df)
                 .select("shingle"))
        idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
        a, b = idx.alias("a"), idx.alias("b")
        cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                 .distinct())
        fa, fb = sh.alias("fa"), sh.alias("fb")
        pairs = (cand.join(fa, F.col("fa.doc_id") == F.col("doc_a"))
                     .join(fb, (F.col("fb.doc_id") == F.col("doc_b"))
                           & (F.col("fb.shingle") == F.col("fa.shingle")))
                     .groupBy("doc_a", "doc_b")
                     .agg(F.count("*").alias("common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
                 .filter(jac >= threshold)
                 .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("source") == PAIR_SLICE_SOURCE)
    return _jaccard_pairs(d, SLICE_JACCARD_THRESHOLD)


# --- MinHash + LSH banded near-dup over the full documents table ---
#
# The hash primitive is engine-portable by construction (so a DuckDB
# oracle reproduces the signatures bit-for-bit — no xxhash64/engine-
# private functions): each shingle's md5 hex yields two 60-bit ints
# (chars 1-15 and 17-31 are exact in BIGINT on both engines), and the 32
# "permutations" are Kirsch-Mitzenmacher combinations
# mh_j = (h1 + j*h2) mod (2^31-1) — pure integer math, still zero-shuffle
# zero-Python whole-stage-codegen array expressions on the Spark side.
HASH_P = 2147483647  # 2^31 - 1 (Mersenne); j*h2 < 2^36 so sums stay exact


def _h1(hexcol):
    return F.conv(F.substring(hexcol, 1, 15), 16, 10).cast("long")


def _h2(hexcol):
    return F.conv(F.substring(hexcol, 17, 15), 16, 10).cast("long") % HASH_P


def _hash_pairs():
    """shingles -> array<struct<h1,h2>> (md5 materialized once/shingle)."""
    hexes = F.transform(F.col("shingles"), F.md5)
    return F.transform(hexes, lambda x: F.struct(
        _h1(x).alias("h1"), _h2(x).alias("h2")))


def minhash_signature_cols():
    """32 minhash columns, each array_min over the KM-combined hashes —
    pure expressions over the shingle array, no shuffle, no Python.

    NB: the per-j lambda must take exactly ONE parameter — F.transform
    passes the array index as a second argument when the callable's arity
    is 2, which would silently replace j."""
    def _mh(j: int):
        return F.array_min(
            F.transform(F.col("hs"),
                        lambda x: (x["h1"] + j * x["h2"]) % HASH_P)
        ).alias(f"mh{j}")

    return [_mh(j) for j in range(NUM_HASHES)]


def _band_hash(b: int):
    """Band key = md5 of the comma-joined row values (int→string renders
    identically on both engines)."""
    return F.md5(F.concat_ws(",", *[
        F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
        for r in range(ROWS_PER_BAND)]))


def shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>) for docs long enough to shingle.

    The tokenize+shingle scan is the expensive leaf of the whole MinHash
    family — compute it ONCE and share it (see minhash_near_dups, which
    persists this so the signature and verify stages don't each re-scan
    the corpus).

    The input is rebalanced first (guarded no-op on an already-wide scan)
    so the tokenize+md5 math runs on every core even when the fixture
    file is a single unsplittable row group."""
    from ._util import rebalance_scan
    return (rebalance_scan(docs)
                .filter(F.size(_words()) >= SHINGLE_WORDS)
                .select("doc_id", _shingles().alias("shingles")))


def _minhash_sig_udf():
    """Arrow-vectorized signature fold: one interleaved array<long>
    [h1₀, h2₀, h1₁, h2₁, …] → array<long> of the NUM_HASHES minhash
    values, numerically IDENTICAL to the SQL fold in
    minhash_signature_cols (int64-exact: h1 < 2^60, j·h2 < 2^36,
    sums < 2^61).

    Why a pandas UDF in a family whose mantra is "zero Python": the
    expression form evaluates 32 separate transform+array_min passes
    per row — 32 array allocations per document — and BENCH_SCALE
    showed that per-row signature math dominating minhash_lsh's wall
    (4.92× at 10× rows, the family closest to linear). Here the whole
    Arrow batch's shingle hashes flatten into ONE int64 matrix and each
    permutation is one vectorized mod + segmented min
    (np.minimum.reduceat) over every document at once.

    Why ONE interleaved argument: two separate h1s/h2s arguments made
    Catalyst inline the shared md5 transform into both expression
    trees (CollapseProject has no array CSE), hashing every shingle
    TWICE — visible as two full md5 subtrees in the r11 plan. The
    flatten(transform(hexes, x -> array(h1(x), h2(x)))) form computes
    md5 once per shingle inside a single lambda scope. Built lazily
    (module-import @pandas_udf fails under this pyspark)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def sig(hp):
        import pandas as pd
        lens = np.fromiter((len(v) >> 1 for v in hp), dtype=np.int64,
                           count=len(hp))
        if len(lens) == 0:
            return pd.Series([], dtype=object)
        if (lens == 0).any():
            # shingled_docs filters to >= SHINGLE_WORDS words, so an
            # empty array means a caller skipped that contract —
            # reduceat would silently misattribute a neighbor's min
            raise ValueError(
                "minhash signature over an empty shingle array")
        flat = np.concatenate([np.asarray(v, dtype=np.int64)
                               for v in hp])
        flat1, flat2 = flat[0::2], flat[1::2]
        starts = np.empty(len(lens), dtype=np.int64)
        starts[0] = 0
        np.cumsum(lens[:-1], out=starts[1:])
        mins = np.empty((len(lens), NUM_HASHES), dtype=np.int64)
        for j in range(NUM_HASHES):
            km = (flat1 + j * flat2) % HASH_P
            mins[:, j] = np.minimum.reduceat(km, starts)
        return pd.Series(list(mins))

    return pandas_udf(sig, "array<long>")


def band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bh): the LSH band index of a shingled frame —
    THE mergeable/maintainable artifact of the MinHash family (at
    100 TB this table is what you materialize once per corpus and
    append to per ingest batch; see incremental_minhash_verdicts).

    Signature math: md5 → (h1, h2) stays JVM-side (ONE md5 per shingle
    — the pair is built inside a single lambda scope and interleaved,
    because separate h1/h2 argument trees get the md5 inlined twice),
    the 32-permutation min-fold runs Arrow-batched in numpy
    (_minhash_sig_udf — bit-for-bit equal to the SQL fold, pinned by
    test_dedup.py), and the band keys are the same md5(concat_ws) over
    the signature values, so the DuckDB oracle reproduces every byte
    unchanged."""
    hexes = F.transform(F.col("shingles"), F.md5)
    hp = F.flatten(F.transform(hexes,
                               lambda x: F.array(_h1(x), _h2(x))))
    sig = sh.select("doc_id", _minhash_sig_udf()(hp).alias("sig"))
    bh = [F.md5(F.concat_ws(",", *[
        F.col("sig").getItem(b * ROWS_PER_BAND + r).cast("string")
        for r in range(ROWS_PER_BAND)])) for b in range(BANDS)]
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), bh[b].alias("bh"))
            for b in range(BANDS)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def band_table_expr(sh: DataFrame) -> DataFrame:
    """The pure-expression twin of band_table (32 transform+array_min
    passes, zero Python) — kept as the parity reference for the
    vectorized fold and for plans that must stay UDF-free."""
    sig = (sh.withColumn("hs", _hash_pairs())
             .select("doc_id", "shingles", *minhash_signature_cols()))
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bh"))
            for b in range(BANDS)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def lsh_candidate_pairs(docs: DataFrame,
                        shingled: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs that collide in >=1 band.

    Pass `shingled` (from shingled_docs, ideally persisted) to reuse an
    already-computed shingle DF instead of re-deriving it from docs."""
    sh = shingled if shingled is not None else shingled_docs(docs)
    bands = band_table(sh)
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())


def minhash_near_dups(docs: DataFrame, threshold: float,
                      shingled: DataFrame | None = None) -> DataFrame:
    """LSH candidates verified with exact Jaccard via array_intersect on
    the shingle arrays (arrays ride along two doc_id hash joins).

    The shingled corpus is computed once and persisted (memory-and-disk):
    the signature stage and both sides of the verify join read the cached
    tokenized form instead of re-running the split+shingle scan three
    times. At 100 TB the same shape holds — you'd materialize the
    shingled table to storage once and feed every downstream stage.
    Pass `shingled` (ideally an already-persisted/cached frame) to
    reuse exactly such an artifact."""
    from pyspark import StorageLevel
    sh = (shingled if shingled is not None
          else shingled_docs(docs).persist(StorageLevel.MEMORY_AND_DISK))
    cand = lsh_candidate_pairs(docs, shingled=sh)
    wa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles").alias("sh_a"))
    wb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    jac = common / union
    return (cand.join(wa, "doc_a").join(wb, "doc_b")
                .filter(jac >= threshold)
                .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


# the tokenize+shingle scan is the expensive leaf of the whole MinHash
# family, and TWO registered entries (batch near-dups + the
# incremental index-maintenance form) plus any curate re-entry consume
# it in one session — a session artifact per (appId, sf_dir), the
# materialized-shingle-table shape a 100-TB pipeline would persist to
# storage once.
def _shingled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel
    return session_artifact(
        spark, ("dedup.shingles", sf_dir),
        lambda: shingled_docs(table(spark, sf_dir, "documents"))
        .persist(StorageLevel.MEMORY_AND_DISK))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return minhash_near_dups(d, JACCARD_THRESHOLD,
                             shingled=_shingled_documents(spark, sf_dir))


# --- incremental MinHash index maintenance: the daily-crawl shape.
#     At 100 TB you never re-shingle the whole corpus per ingest
#     batch: the band index (band_table) and the shingled frame are
#     materialized artifacts, and a new batch only computes ITS OWN
#     shingles/signatures (O(|delta|)) then equality-joins on
#     (band, bh) against the index. Per delta doc the verdict is
#     dup-of-existing (any base partner), dup-of-earlier-in-batch
#     (smaller delta doc_id wins — first-writer-wins within the
#     batch), or new. Verified with exact Jaccard like the batch
#     form. The batch split here is the portable md5 bucket on doc_id
#     so the DuckDB twin reproduces it exactly. ---
INCR_BASE_PCT = 80  # fixture split: ~80% existing corpus, ~20% delta


def incremental_minhash_verdicts(base_sh: DataFrame,
                                 base_bands: DataFrame,
                                 delta: DataFrame,
                                 threshold: float,
                                 delta_sh: DataFrame | None = None
                                 ) -> DataFrame:
    """(doc_id, dup_of, jaccard, is_new) for every DELTA doc, given
    the existing corpus only as its materialized artifacts (shingled
    frame + band index) — the base text is never re-read. `delta_sh`
    lets the caller hand in an already-shingled delta (e.g. a slice
    of a cached corpus-wide shingle table); `delta` itself is still
    needed for the id universe (docs too short to shingle get a
    verdict too: is_new=1)."""
    from pyspark import StorageLevel
    sh_d = (delta_sh if delta_sh is not None
            else shingled_docs(delta).persist(StorageLevel.MEMORY_AND_DISK))
    bands_d = band_table(sh_d)
    # partners: the whole index (disjoint ids, any order) plus earlier
    # delta docs; side flag 1 = same-batch, needing the id ordering
    x = (base_bands.withColumn("side", F.lit(0))
                   .unionByName(bands_d.withColumn("side", F.lit(1))))
    d, xx = bands_d.alias("d"), x.alias("x")
    cand = (d.join(xx, (F.col("d.band") == F.col("x.band"))
                   & (F.col("d.bh") == F.col("x.bh"))
                   & ((F.col("x.side") == 0)
                      | (F.col("x.doc_id") < F.col("d.doc_id"))))
             .select(F.col("d.doc_id").alias("doc_id"),
                     F.col("x.doc_id").alias("partner"))
             .distinct())
    wa = sh_d.select(F.col("doc_id"), F.col("shingles").alias("sh_a"))
    wb = (base_sh.unionByName(sh_d)
                 .select(F.col("doc_id").alias("partner"),
                         F.col("shingles").alias("sh_b")))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    jac = common / union
    verified = (cand.join(wa, "doc_id").join(wb, "partner")
                    .filter(jac >= threshold)
                    .select("doc_id", "partner",
                            F.round(jac, 6).alias("jaccard")))
    # arg-min by partner id: the struct min orders by its first field,
    # and (doc_id, partner) rows are unique so the jaccard rides along
    best = verified.groupBy("doc_id").agg(
        F.min(F.struct("partner", "jaccard")).alias("m"))
    return (delta.select("doc_id").join(best, "doc_id", "left")
                 .select("doc_id",
                         F.col("m.partner").alias("dup_of"),
                         F.col("m.jaccard").alias("jaccard"),
                         F.col("m").isNull().cast("int").alias("is_new")))


# the base-side band index is the STORED artifact of the real
# lifecycle (jobs/dedup_index.py builds it once and batches join
# against it); recomputing it per run would charge every batch the
# full-base signature cost. A session artifact per (appId, sf_dir)
# like the shingle table it derives from.
def _base_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        from pyspark import StorageLevel
        from .sampling import _hash_bucket
        sh = _shingled_documents(spark, sf_dir)
        sh_b = sh.filter(_hash_bucket(F.col("doc_id"), 100)
                         < INCR_BASE_PCT)
        return band_table(sh_b).persist(StorageLevel.MEMORY_AND_DISK)
    return session_artifact(spark, ("dedup.base_bands", sf_dir), build)


def q_dedup_minhash_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .sampling import _hash_bucket
    d = table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"), 100)
    delta = d.filter(bucket >= INCR_BASE_PCT)
    # base and delta shingles are slices of ONE cached corpus-wide
    # shingle table (shared with q_dedup_minhash_lsh in-session), and
    # the base band index is the cached stored-index analog — the
    # artifact-reuse shape: per run, only the DELTA is signed
    sh = _shingled_documents(spark, sf_dir)
    sh_bucket = _hash_bucket(F.col("doc_id"), 100)
    sh_b = sh.filter(sh_bucket < INCR_BASE_PCT)
    sh_d = sh.filter(sh_bucket >= INCR_BASE_PCT)
    return incremental_minhash_verdicts(
        sh_b, _base_band_index(spark, sf_dir), delta,
        JACCARD_THRESHOLD, delta_sh=sh_d)


# --- SimHash: 16-bit sign-sum fingerprint per document ---
def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Classic simhash over distinct words: bit k of the fingerprint is the
    sign of sum(±1 per word) where bit k of the word's portable 60-bit
    md5-derived hash picks the sign. One explode + one groupBy = one
    shuffle keyed by doc_id."""
    w = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_words())).alias("word"),
    ).withColumn("h", _h1(F.md5("word")))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"s{k}")
        for k in range(bits)
    ]
    agg = w.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for k in range(bits):
        bit = (F.col(f"s{k}") > 0).cast("long") * F.lit(1 << k)
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(table(spark, sf_dir, "documents"))


# --- fuzzy term matching: SymSpell delete-neighborhood blocking ---
# All term pairs within Levenshtein distance 1 (variant spellings /
# typos — the token-normalization sibling of the document-level dedups
# above). The scale problem is pair generation: naive fuzzy join is
# all-pairs × an edit-distance UDF. SymSpell's observation (public
# algorithm, Garbe 2012) turns it into an EQUALITY join: two terms with
# lev ≤ 1 must share a member of {term} ∪ single-char-deletions(term),
# so exploding each term into that O(len) signature set and equi-joining
# on the signature yields a complete candidate set; an exact
# levenshtein ≤ 1 filter verifies. Same candidates-from-equality-key
# discipline as every other pair generator in this module — no
# crossJoin, no per-pair UDF over the full product.
def _delete_sigs(term):
    """array<string>: the term plus every single-character deletion."""
    return F.array_distinct(F.array_union(
        F.array(term),
        F.transform(
            F.sequence(F.lit(1), F.length(term)),
            lambda i: F.concat(
                F.substring(term, F.lit(1), i - 1),
                F.substring(term, i + 1, F.length(term))))))


def fuzzy_term_pairs(terms: DataFrame, col: str = "term") -> DataFrame:
    """(term_a < term_b, lev) for all pairs with levenshtein <= 1."""
    # each array in its own projection stage (house rule; also avoids
    # the lateral-alias resolver tripping on term -> term self-reference)
    # explode_OUTER: _sigs always holds >= 1 element (the term itself via
    # array_union), so outer vs inner emit identical rows — and the outer
    # form stops InferFiltersFromGenerate from cloning the whole
    # delete-signature transform tree into a Filter condition (the
    # registry-wide plan guard forbids higher-order exprs in Filters).
    sigs = (terms.filter(F.col(col).isNotNull())
                 .select(F.col(col).alias("term"))
                 .select("term", _delete_sigs(F.col("term")).alias("_sigs"))
                 .select("term", F.explode_outer("_sigs").alias("sig")))
    a = sigs.select(F.col("term").alias("term_a"), "sig")
    b = sigs.select(F.col("term").alias("term_b"), "sig")
    lev = F.levenshtein("term_a", "term_b")
    return (a.join(b, "sig")
             .filter(F.col("term_a") < F.col("term_b"))
             .select("term_a", "term_b").distinct()
             .filter(lev <= 1)
             .select("term_a", "term_b", lev.alias("lev")))


# fixture vocabulary has no natural lev-1 pairs, so (pii_redact
# precedent) the registered query PLANTS deterministic typos — a
# 2nd-char deletion of a hash-selected half of the len>=4 terms — on
# both engines; the SymSpell blocking + verify is what's hash-checked.
FUZZY_PLANT_PCT = 50


def q_dedup_fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    from .sampling import _hash_bucket
    d = rebalance_scan(table(spark, sf_dir, "documents"))
    words = (d.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
              .distinct())
    t = F.col("term")
    typos = (words.filter((F.length(t) >= 4)
                          & (_hash_bucket(t, 100) < FUZZY_PLANT_PCT))
                  .select(F.concat(F.substring(t, 1, 1),
                                   F.substring(t, F.lit(3), F.length(t)))
                           .alias("term")))
    return fuzzy_term_pairs(words.union(typos).distinct())


# --- Exact duplicate-SPAN detection (substring-level dedup) ---
# The document-level tiers above decide keep/drop per doc; web-scale
# corpora also need SUBSTRING-level dedup (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better": remove repeated spans, not
# docs — boilerplate headers, license blocks, templated passages). The
# suffix-array construction in the paper is a single-machine algorithm;
# the Spark-first reformulation is positional token k-grams:
#   1. each doc emits (pos, gram) for every SPAN_GRAM-token window — same
#      projection-staged construction as cleaning._word_grams (each array
#      in its own stage, cheap word-count pre-filter so nothing expensive
#      is ever pushed into the scan filter);
#   2. one partial-combined hash agg finds grams occurring in >= 2
#      DISTINCT docs (cross-doc duplication; within-doc repetition is
#      repetition_filter's job);
#   3. an equality join on the gram marks duplicated positions — never
#      all-pairs; AQE's skew-join split handles hot boilerplate grams
#      (the dup set is distinct grams, so skew is 1xM and splittable);
#   4. per-doc gaps-and-islands (pos - row_number) turns marked positions
#      into maximal runs: a run of r consecutive duplicated grams is a
#      duplicated token span of r + SPAN_GRAM - 1 tokens.
# Output is O(docs), unsorted: every doc with >= SPAN_GRAM words, with
# its duplicated-gram count/fraction and longest duplicated span — the
# columns a curation pipeline thresholds on to strip or drop.
SPAN_GRAM = 8


# Persisted gram explodes, a session artifact keyed by (input plan,
# params): BOTH consumers below (the dup-set agg and the hits join)
# read the same exploded grams, and the tokenize + gram-construction
# pipeline is the operator's dominant per-row cost, so recomputing it
# per consumer (or per repeat invocation: bench + curate in one
# session) would double the scan work. Bounded: one entry per distinct
# input plan per session.
def _span_grams(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = SPAN_GRAM) -> DataFrame:
    """The persisted (id, pos, gram) explode duplicate_span_stats'
    two consumers (the dup-set agg and the hits join) share — split out
    (r16) so the bench can warm it as a visible `artifact:` entry: in
    registry order curate_funnel_stats runs BEFORE dedup_span_stats, so
    the one-time corpus-wide build otherwise lands inside whichever
    entry runs first (the r8 shingle-table misattribution all over
    again)."""
    def build() -> DataFrame:
        w = F.split(F.col(text_col), " ")
        base = (docs.filter(F.col(text_col).isNotNull())
                    .filter(F.size(w) >= n)
                    .select(F.col(id_col), w.alias("_w")))
        return (
            base.select(id_col,
                        F.transform(
                            F.sequence(F.lit(1),
                                       F.size("_w") - (n - 1)),
                            lambda i: F.concat_ws(
                                " ", F.slice("_w", i, n)))
                         .alias("grams"))
                .select(id_col, F.posexplode_outer("grams")
                                 .alias("pos", "gram"))
                .persist())
    return session_artifact(
        docs.sparkSession,
        ("dedup.span_grams", docs.semanticHash(), id_col, text_col, n),
        build)


def duplicate_span_stats(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         n: int = SPAN_GRAM,
                         keep_ids: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_grams, n_dup_grams, dup_frac, max_dup_span) per doc
    with >= n words; max_dup_span is the longest run of cross-doc
    duplicated tokens (0 when the doc shares no n-gram with any other
    doc).

    `keep_ids` (unique-id frame, r16 — guide §1.2): compute the stats
    over the SUBSET of `docs` whose id appears in it, while the cached
    gram explode stays keyed on the full `docs` plan. Per-doc grams
    don't depend on other docs, so semi-joining the exploded grams
    equals exploding the pre-filtered docs — identical rows — and the
    dup set is still derived strictly from the surviving subset. This
    lets the curate funnel reuse the corpus-wide span-gram artifact
    q_dedup_span_stats builds instead of re-running the tokenize +
    gram-construction pass on the survivor subset."""
    from pyspark.sql import Window

    w = F.split(F.col(text_col), " ")
    base = (docs.filter(F.col(text_col).isNotNull())
                .filter(F.size(w) >= n)
                .select(F.col(id_col), w.alias("_w")))
    grams = _span_grams(docs, id_col, text_col, n)
    if keep_ids is not None:
        grams = grams.join(keep_ids, id_col, "semi")
        base = base.join(keep_ids, id_col, "semi")
    dup = (grams.groupBy("gram")
                .agg(F.count_distinct(id_col).alias("nd"))
                .filter(F.col("nd") >= 2)
                .select("gram"))
    win = Window.partitionBy(id_col).orderBy("pos")
    hits = (grams.join(dup, "gram")
                 .select(id_col, "pos")
                 .withColumn("grp", F.col("pos")
                             - F.row_number().over(win)))
    agg = (hits.groupBy(id_col, "grp").agg(F.count("*").alias("run"))
               .groupBy(id_col)
               .agg(F.sum("run").alias("n_dup_grams"),
                    F.max("run").alias("max_run")))
    per_doc = base.select(id_col,
                          (F.size("_w") - (n - 1)).alias("n_grams"))
    return (per_doc.join(agg, id_col, "left")
            .select(id_col, "n_grams",
                    F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                    F.round(F.coalesce("n_dup_grams", F.lit(0))
                            / F.col("n_grams"), 6).alias("dup_frac"),
                    F.coalesce(F.col("max_run") + (n - 1), F.lit(0))
                     .cast("bigint").alias("max_dup_span")))


def q_dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "text")
    return duplicate_span_stats(d)  # O(docs): unsorted


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_source_matrix": q_dedup_source_matrix,
    "dedup_source_matrix_fp": q_dedup_source_matrix_fp,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_fuzzy_terms": q_dedup_fuzzy_terms,
    "dedup_span_stats": q_dedup_span_stats,
}


def _sql_hex2int(col: str) -> str:
    """15 lowercase hex chars -> BIGINT, positional arithmetic (exact in
    BIGINT: max term 15*16^14 < 2^60). DuckDB has no hex→int builtin
    whose byte order provably matches Spark's conv(); this does."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substring({col},{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)) + ")"


_SQL_MH = ",\n         ".join(
    f"MIN((h1 + {j}*h2) % {HASH_P}) AS mh{j}" for j in range(NUM_HASHES))
_SQL_BANDS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig"
    .format(b=b, cols=", ".join(
        f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)))
    for b in range(BANDS))
_SQL_SIMHASH_SUMS = ",\n         ".join(
    f"SUM(((hv >> {k}) & 1)*2 - 1) AS s{k}" for k in range(16))
_SQL_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))

def _oracle_fuzzy_terms() -> str:
    from .sampling import _sql_hash_bucket
    return f"""
WITH words AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents
), planted AS (
  SELECT term FROM words
  UNION
  SELECT substr(term, 1, 1) || substr(term, 3) AS term
  FROM words
  WHERE len(term) >= 4 AND {_sql_hash_bucket("term", 100)} < {FUZZY_PLANT_PCT}
), sigs AS (
  SELECT term,
         unnest(list_distinct(list_append(
           list_transform(range(1, len(term) + 1),
                          i -> substr(term, 1, i - 1) || substr(term, i + 1)),
           term))) AS sig
  FROM planted
), cand AS (
  SELECT DISTINCT a.term AS term_a, b.term AS term_b
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.term < b.term
)
SELECT term_a, term_b, levenshtein(term_a, term_b) AS lev
FROM cand WHERE levenshtein(term_a, term_b) <= 1
"""


ORACLE = {
    # positions are 1-based here vs posexplode's 0-based — grouping by
    # pos - row_number() is invariant to the constant offset
    "dedup_span_stats": f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE text IS NOT NULL
    AND len(string_split(text, ' ')) >= {SPAN_GRAM}
), pos AS (
  SELECT doc_id, words,
         unnest(range(1, len(words) - {SPAN_GRAM - 2})) AS pos
  FROM base
), grams AS (
  SELECT doc_id, pos,
         array_to_string(words[pos:pos + {SPAN_GRAM - 1}], ' ') AS gram
  FROM pos
), dup AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos,
         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id
                                    ORDER BY g.pos) AS grp
  FROM grams g JOIN dup d USING (gram)
), runs AS (
  SELECT doc_id, grp, COUNT(*) AS run FROM hits GROUP BY doc_id, grp
), agg AS (
  SELECT doc_id, SUM(run) AS n_dup_grams, MAX(run) AS max_run
  FROM runs GROUP BY doc_id
), per_doc AS (
  SELECT doc_id, len(words) - {SPAN_GRAM - 1} AS n_grams FROM base
)
SELECT p.doc_id, p.n_grams,
       CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       ROUND(CAST(COALESCE(a.n_dup_grams, 0) AS DOUBLE) / p.n_grams, 6)
         AS dup_frac,
       CAST(COALESCE(a.max_run + {SPAN_GRAM - 1}, 0) AS BIGINT)
         AS max_dup_span
FROM per_doc p LEFT JOIN agg a USING (doc_id)
""",
    "dedup_fuzzy_terms": _oracle_fuzzy_terms(),
    "dedup_source_matrix": f"""
WITH sc AS (
  SELECT md5({_sql_normalized('text')}) AS h,
         source, COUNT(*) AS c
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), g AS (
  SELECT h FROM sc GROUP BY h HAVING SUM(c) >= 2
), p AS (
  SELECT a.h, a.source AS src_a, b.source AS src_b
  FROM sc a JOIN sc b USING (h) JOIN g USING (h)
  WHERE a.source < b.source
     OR (a.source = b.source AND a.c >= 2)
)
SELECT src_a, src_b, COUNT(*) AS n_dup_groups
FROM p GROUP BY src_a, src_b ORDER BY src_a, src_b
""",
    "dedup_source_matrix_fp": f"""
WITH sc AS (
  SELECT md5(array_to_string(
           string_split({_sql_normalized('text')},
                        ' ')[1:{PREFIX_FP_WORDS}], ' ')) AS h,
         source, COUNT(*) AS c
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), g AS (
  SELECT h FROM sc GROUP BY h HAVING SUM(c) >= 2
), p AS (
  SELECT a.h, a.source AS src_a, b.source AS src_b
  FROM sc a JOIN sc b USING (h) JOIN g USING (h)
  WHERE a.source < b.source
     OR (a.source = b.source AND a.c >= 2)
)
SELECT src_a, src_b, COUNT(*) AS n_dup_groups
FROM p GROUP BY src_a, src_b ORDER BY src_a, src_b
""",
    "dedup_exact": f"""
SELECT md5(content) AS fingerprint, keep_event_id, n_copies FROM (
  SELECT {_sql_normalized('props')} AS content,
         MIN(event_id) AS keep_event_id, COUNT(*) AS n_copies
  FROM events WHERE props IS NOT NULL GROUP BY 1
)
""",
    "dedup_ngram_jaccard": f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
  WHERE source = '{PAIR_SLICE_SOURCE}' AND len(string_split(text, ' ')) >= {SHINGLE_WORDS}
), sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM docs, unnest(generate_series(1, len(words) - {SHINGLE_WORDS - 1}))  AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE common / (sa.n + sb.n - common) >= {SLICE_JACCARD_THRESHOLD}
""",
    "dedup_minhash_lsh": f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
), sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM docs, unnest(generate_series(1, len(words) - {SHINGLE_WORDS - 1})) AS t(i)
), hh AS (
  SELECT doc_id, shingle,
         substring(md5(shingle), 1, 15) AS hx1,
         substring(md5(shingle), 17, 15) AS hx2
  FROM sh
), hv AS (
  SELECT doc_id, shingle,
         {_sql_hex2int('hx1')} AS h1,
         {_sql_hex2int('hx2')} % {HASH_P} AS h2
  FROM hh
), sig AS (
  SELECT doc_id,
         {_SQL_MH}
  FROM hv GROUP BY doc_id
), bands AS (
{_SQL_BANDS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE common / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
""",
    "dedup_minhash_incremental": f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
), sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM docs, unnest(generate_series(1, len(words) - {SHINGLE_WORDS - 1})) AS t(i)
), hh AS (
  SELECT doc_id, shingle,
         substring(md5(shingle), 1, 15) AS hx1,
         substring(md5(shingle), 17, 15) AS hx2
  FROM sh
), hv AS (
  SELECT doc_id, shingle,
         {_sql_hex2int('hx1')} AS h1,
         {_sql_hex2int('hx2')} % {HASH_P} AS h2
  FROM hh
), sig AS (
  SELECT doc_id,
         {_SQL_MH}
  FROM hv GROUP BY doc_id
), bands AS (
{_SQL_BANDS}
), split AS (
  SELECT doc_id,
         ({_sql_hex2int("substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)")}
          % 100) AS bucket
  FROM documents
), delta_ids AS (SELECT doc_id FROM split WHERE bucket >= {INCR_BASE_PCT}),
cand AS (
  SELECT DISTINCT d.doc_id, x.doc_id AS partner
  FROM bands d
  JOIN delta_ids di ON d.doc_id = di.doc_id
  JOIN bands x ON x.band = d.band AND x.bh = d.bh
  LEFT JOIN delta_ids xd ON x.doc_id = xd.doc_id
  WHERE xd.doc_id IS NULL OR x.doc_id < d.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT c.doc_id, c.partner, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id
  JOIN sh b ON b.doc_id = c.partner AND b.shingle = a.shingle
  GROUP BY 1, 2
), verified AS (
  SELECT p.doc_id, p.partner,
         ROUND(common / (sa.n + sb.n - common), 6) AS jaccard
  FROM pairs p
  JOIN sizes sa ON p.doc_id = sa.doc_id
  JOIN sizes sb ON p.partner = sb.doc_id
  WHERE common / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
), best AS (
  SELECT doc_id, MIN(partner) AS dup_of FROM verified GROUP BY doc_id
)
SELECT del.doc_id, b.dup_of, v.jaccard,
       CAST(b.dup_of IS NULL AS INT) AS is_new
FROM delta_ids del
LEFT JOIN best b ON del.doc_id = b.doc_id
LEFT JOIN verified v ON v.doc_id = del.doc_id AND v.partner = b.dup_of
""",
    "dedup_simhash": f"""
WITH w AS (
  SELECT DISTINCT doc_id, word
  FROM documents, unnest(string_split(text, ' ')) AS t(word)
), h AS (
  SELECT doc_id, {_sql_hex2int("substring(md5(word), 1, 15)")} AS hv FROM w
), s AS (
  SELECT doc_id,
         {_SQL_SIMHASH_SUMS}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({_SQL_SIMHASH_FP} AS BIGINT) AS simhash FROM s
""",
}
