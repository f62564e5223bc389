"""Similarity search over the `embeddings` table (`vec_id, embedding
array<float>, label`) — the ANN extension family (BASELINE-mandated; no
reference twin).

Two tiers:
  * brute-force cosine top-k — the exactness baseline. The query set is
    tiny and broadcast; the corpus side streams. Dot products are
    sequential double accumulation via zip_with + aggregate, which is
    bit-identical to DuckDB's list_sum(list_transform(list_zip(...)))
    (verified empirically), so the oracle check is exact without any
    rounding.
  * random-hyperplane LSH ANN — the scale path. Deterministic ±1
    hyperplanes derived from sha256("plane:t:p") are embedded as array
    LITERALS in the plan (computed once at plan build, zero per-row
    hashing, no stored state to ship), so each signature bit is one
    zip_with-multiply-aggregate over the embedding; candidates come from
    an equality join on (table, bucket), never a full crossJoin against
    the corpus.

Scale notes: brute force is O(|Q| × N) with Q broadcast — correct but
linear in the corpus; it exists as the oracle baseline and for small Q.
The LSH path's cost is O(|Q| × avg_bucket_size × n_tables); tune
(N_TABLES, BITS_PER_TABLE) to trade recall for candidate count. At
100 TB you'd additionally partition the corpus by bucket on write so
candidate lookup prunes partitions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import session_artifact, table

N_QUERY = 5     # queries() entries use vec_id < N_QUERY as the query set
TOP_K = 10
N_TABLES = 8
BITS_PER_TABLE = 4
EMBED_DIM = 64  # driver embeddings fixture dimension
# near-dup detection wants high-cosine pairs → finer buckets keep both
# recall (p_agree^bits stays high when cos is high) and candidate counts
# manageable: at cos ≥ 0.9, p_agree ≈ 0.86, 8 bits → 0.30/table,
# 1-(1-0.30)^8 ≈ 94% recall with ~N²/512 candidate pairs instead of N²/32
NEAR_DUP_BITS = 8
NEAR_DUP_THRESHOLD = 0.9


# r16 (guide §1.2: don't compute things you throw away — here, don't
# compute the same bounded artifact N times): the family's shared
# intermediates are session artifacts keyed (kind, sf_dir). Before this,
# one bench pass ran the default-k KMeans fit twice (sim_ivf_topk +
# sim_ivf_recall_contract), the label-prototype centroid agg four
# times (both semdedup entries, the frozen IVF twin, and sim_ivf_topk
# through it), and the entire frozen label-prototype SemDeDup twice
# (sim_semdedup + sim_semdedup_kmeans' frozen side). Values are the
# identical objects/frames the first caller computed, so results are
# unchanged by construction.
def _cached_ivf_centroids(spark: SparkSession, sf_dir: str,
                          corpus: DataFrame):
    """Default-config fit_ivf_centroids over the embeddings corpus —
    the [(cid, vec)] driver artifact both live-IVF entries consume."""
    return session_artifact(spark, ("similarity.ivf_cents", sf_dir),
                            lambda: fit_ivf_centroids(corpus))


def _cached_label_protos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted label_prototype_centroids over the embeddings table
    (O(labels·dim) rows) — consumed by both semdedup entries and the
    frozen IVF twin."""
    def build():
        e = table(spark, sf_dir, "embeddings") \
            .select("vec_id", "label", "embedding")
        return label_prototype_centroids(e).persist()
    return session_artifact(spark, ("similarity.label_protos", sf_dir),
                            build)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    """Sequential left-to-right double accumulation (oracle-parity exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries: (query_id, qe array<float>) — small, broadcast.
    corpus:  (vec_id, embedding array<float>).
    """
    from pyspark.sql import Window
    joined = corpus.crossJoin(F.broadcast(queries)) \
        .filter(F.col("vec_id") != F.col("query_id")) \
        .select("query_id", "vec_id",
                cosine(F.col("qe"), F.col("embedding")).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (joined.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "vec_id", "cos", "rank"))


def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERY)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe")))
    return brute_force_topk(queries, e.select("vec_id", "embedding"), TOP_K)


# --- random-hyperplane LSH ---
def _plane_weights(t: int, p: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane for (table, plane): bits of
    sha256("plane:t:p:block"). Computed once at plan-build time and
    embedded as literals — zero per-row hashing, nothing to store."""
    import hashlib
    out: list[float] = []
    ctr = 0
    while len(out) < dim:
        block = hashlib.sha256(f"plane:{t}:{p}:{ctr}".encode()).digest()
        for b in block:
            out.append(1.0 if b & 1 else -1.0)
            if len(out) == dim:
                break
        ctr += 1
    return out


def _weight_matrix(n_tables: int, bits: int, dim: int):
    """(dim × n_tables·bits) ±1 matrix, column (t·bits + p) = plane (t, p)."""
    import numpy as np
    cols = [_plane_weights(t, p, dim)
            for t in range(n_tables) for p in range(bits)]
    return np.asarray(cols, dtype=np.float64).T


def _bucket_sig_udf(n_tables: int, bits: int, dim: int):
    """pandas_udf: embedding → array of n_tables bucket ids. One numpy
    matmul per Arrow batch replaces n_tables·bits per-row aggregate
    expressions — the vectorized form of the same sha256-derived planes
    (identical buckets, ~10× cheaper signatures)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def sig(emb: pd.Series) -> pd.Series:
        W = _weight_matrix(n_tables, bits, dim)          # per-task init
        powers = (1 << np.arange(bits)).astype(np.int64)
        X = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        B = (X @ W) > 0                                   # (n, tables·bits)
        B = B.reshape(len(X), n_tables, bits)
        buckets = (B * powers).sum(axis=2).astype("int32")
        return pd.Series(list(buckets))

    # typehint-inferred SCALAR udf: `pd` lives in module globals, so the
    # decorator's get_type_hints on the closure resolves cleanly
    return pandas_udf(sig, returnType="array<int>")


def lsh_buckets(df: DataFrame, emb_col: str = "embedding",
                n_tables: int = N_TABLES,
                bits: int = BITS_PER_TABLE,
                dim: int = EMBED_DIM) -> DataFrame:
    """Explode each row into (table_id, bucket) signature rows."""
    sig = _bucket_sig_udf(n_tables, bits, dim)
    return (df.withColumn("_sig", sig(F.col(emb_col)))
              .select("*", F.posexplode("_sig").alias("tbl", "bucket"))
              .drop("_sig"))


def ann_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in >=1 table.

    Candidate dedup runs on bare ids; both embedding arrays join back
    onto the surviving pairs (the distinct must not shuffle arrays)."""
    from pyspark.sql import Window
    qb = lsh_buckets(queries, "qe", n_tables, bits) \
        .select("query_id", "tbl", "bucket")
    cb = lsh_buckets(corpus, "embedding", n_tables, bits) \
        .select("vec_id", "tbl", "bucket")
    cand = (cb.join(F.broadcast(qb), ["tbl", "bucket"])
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id")
              .distinct())
    qe = queries.select("query_id", "qe")
    scored = (cand.join(F.broadcast(qe), "query_id")
                  .join(corpus.select("vec_id", "embedding"), "vec_id")
                  .select("query_id", "vec_id",
                          cosine(F.col("qe"), F.col("embedding")).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "vec_id", "cos", "rank"))


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERY)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe")))
    return ann_topk(queries, e.select("vec_id", "embedding"), TOP_K)


# --- embedding-cosine near-dup pairs (dedup-by-embedding, LSH-bucketed) ---
def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = NEAR_DUP_THRESHOLD,
                             n_tables: int = N_TABLES,
                             bits: int = NEAR_DUP_BITS) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold among bucket-mates.

    Pair dedup runs on bare ids (multi-table collisions collapse before
    anything wide moves); embeddings join back onto the surviving pairs
    — at scale the distinct would otherwise shuffle every candidate's
    two float arrays."""
    cb = lsh_buckets(corpus, "embedding", n_tables, bits)
    a = cb.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = cb.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    pairs = (a.join(b, ["tbl", "bucket"])
              .filter(F.col("vec_a") < F.col("vec_b"))
              .select("vec_a", "vec_b").distinct())
    ea = corpus.select(F.col("vec_id").alias("vec_a"),
                       F.col("embedding").alias("ea"))
    eb = corpus.select(F.col("vec_id").alias("vec_b"),
                       F.col("embedding").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (pairs.join(ea, "vec_a").join(eb, "vec_b")
                 .select("vec_a", "vec_b", cos.alias("cos"))
                 .filter(F.col("cos") >= threshold))


def q_sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form emits EVERY bucket-mate candidate with its exact
    cosine and the >= NEAR_DUP_THRESHOLD verdict as a flag, instead of
    post-filtering: the fixture embeddings deliberately contain no
    pairs above 0.9 (max pairwise cosine 0.60 at sf0.1 — COVERAGE.md
    round-5 note), so the filtered form would hash two empty frames at
    every SF and prove nothing. The flag form hash-checks the full
    candidate generation + scoring + threshold semantics on real rows;
    embedding_near_dup_pairs keeps the filtered operator shape (pytest
    carries its planted-dup evidence)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = lsh_buckets(e, "embedding", N_TABLES, NEAR_DUP_BITS)
    a = cb.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = cb.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    pairs = (a.join(b, ["tbl", "bucket"])
              .filter(F.col("vec_a") < F.col("vec_b"))
              .select("vec_a", "vec_b").distinct())
    ea = e.select(F.col("vec_id").alias("vec_a"),
                  F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("vec_b"),
                  F.col("embedding").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (pairs.join(ea, "vec_a").join(eb, "vec_b")
                 .select("vec_a", "vec_b", cos.alias("cos"),
                         (cos >= NEAR_DUP_THRESHOLD).cast("int")
                         .alias("is_near_dup")))


# --- IVF (inverted-file) ANN: KMeans centroids + nearest-cluster probe ---
IVF_CLUSTERS = 16
IVF_PROBES = 4


def _make_assign_udf(centroids, n_probe: int):
    """Vectorized centroid assignment: one (batch × k) distance matmul
    per Arrow batch instead of k interpreted zip_with/aggregate chains
    per row (the literal-expression form cost ~k·2·dim lambda evals per
    row and a k·dim-literal plan tree). The centroid matrix is a closure
    constant — O(k·dim) floats, shipped once per executor, the same
    broadcast-sized footprint as the literal form. Module-scope factory
    so the pandas_udf return type resolves (no deprecated PandasUDFType)."""
    import numpy as np
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([vec for _, vec in centroids], dtype=np.float64)
    cn = (C * C).sum(axis=1)

    @F.pandas_udf("array<int>")
    def assign(emb: pd.Series) -> pd.Series:
        X = np.array(emb.tolist(), dtype=np.float64)
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
        # stable argsort ties break by centroid position = ascending cid,
        # matching the previous array_sort(struct(d, cid)) semantics
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([cids[row].tolist() for row in order])

    return assign


def _assign_clusters(df: DataFrame, centroids, emb_col: str,
                     n_probe: int) -> DataFrame:
    """Attach the ids of the n_probe nearest centroids (exploded).

    centroids: list[(cluster_id, list[float])] — small enough to ride
    along as a UDF closure; assignment is map-side only (no join, no
    shuffle), so the inverted file builds in a single scan."""
    assign = _make_assign_udf(centroids, n_probe)
    return df.withColumn("cid", F.explode(assign(F.col(emb_col))))


def fit_ivf_centroids(corpus: DataFrame, k: int = IVF_CLUSTERS,
                      seed: int = 42, sample_ppm: int | None = None):
    """MLlib KMeans over the corpus's `embedding` → [(cluster_id,
    centroid_vector)]; centroids are O(k·dim) — broadcastable. At 100 TB
    pass `sample_ppm`: centroid quality needs only a representative
    sample, and the deterministic hash filter on `vec_id` keeps the fit
    reproducible regardless of partitioning (unlike rdd-sample seeds)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    if sample_ppm is not None:
        from .sampling import sample_hash
        corpus = sample_hash(corpus, "vec_id", sample_ppm)
    feat = corpus.select(array_to_vector(F.col("embedding"))
                         .alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=10).fit(feat)
    return [(i, c.tolist()) for i, c in enumerate(model.clusterCenters())]


def ivf_topk_assigned(queries: DataFrame, assigned_corpus: DataFrame,
                      centroids, k: int,
                      n_probe: int = IVF_PROBES) -> DataFrame:
    """ivf_topk over a PRE-ASSIGNED corpus (vec_id, embedding, cid) —
    the stored-inverted-file path (jobs/ann_index.py): at 100 TB you
    query an index built once, not a per-run assignment scan."""
    from pyspark.sql import Window
    qa = _assign_clusters(queries, centroids, "qe", n_probe) \
        .select("query_id", "qe", "cid")
    scored = (assigned_corpus.select("vec_id", "embedding", "cid")
                .join(F.broadcast(qa), "cid")
                .filter(F.col("vec_id") != F.col("query_id"))
                .select("query_id", "vec_id",
                        cosine(F.col("qe"), F.col("embedding")).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "vec_id", "cos", "rank"))


def ivf_topk(queries: DataFrame, corpus: DataFrame, centroids, k: int,
             n_probe: int = IVF_PROBES) -> DataFrame:
    """Approximate top-k: corpus rows are probed only in the query's
    n_probe nearest clusters — candidates come from an equality join on
    cluster id (the inverted file), never a full scan per query.

    No candidate distinct: each corpus row is assigned exactly ONE
    cluster (n_probe=1 on the corpus side) and query (cid) rows are
    unique, so a (query_id, vec_id) pair can arise at most once — the
    corpus streams through a single broadcast hash join and nothing wide
    ever shuffles. (If corpus-side multi-probe is ever enabled, dedup on
    bare (query_id, vec_id) and join the embeddings back, per ann_topk.)"""
    ca = _assign_clusters(corpus, centroids, "embedding", 1) \
        .select("vec_id", "embedding", "cid")
    return ivf_topk_assigned(queries, ca, centroids, k, n_probe)


# --- IVF recall contract (late r14): the one un-hashed residue of
#     the ANN family was the LIVE MLlib KMeans fit (sim_ivf_topk is
#     rows-only because its result set is engine-specific;
#     sim_ivf_topk_frozen hashes the IVF math under frozen centroids).
#     The sketch-assertion recipe closes the gap: per query, the EXACT
#     top-k neighbor list hashes (brute-force cosine — the proven
#     sim_topk_cosine core), and the live fit's retrieval quality
#     rides as an asserted flag — recall@k of the live-IVF result vs
#     exact ≥ IVF_RECALL_MIN_PCT. Honesty note: the fixture
#     embeddings are UNSTRUCTURED, so live recall concentrates near
#     the probed-cell fraction (measured 40-100% across queries and
#     SFs, minimum 40%); the 20% floor is therefore a STRUCTURAL
#     smoke contract — a broken assignment, empty probes, or a wrong
#     candidate join reads as a red driver row — not a retrieval-
#     quality claim (quality evidence lives in the separated-cluster
#     recall pytest pins and the structured BENCH_SCALE corpus). ---
IVF_RECALL_MIN_PCT = 20


def q_sim_ivf_recall_contract(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = (e.filter(F.col("vec_id") < N_QUERY)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe")))
    exact = brute_force_topk(queries, corpus, TOP_K)
    centroids = _cached_ivf_centroids(spark, sf_dir, corpus)
    approx = (ivf_topk(queries, corpus, centroids, TOP_K)
              .select("query_id", "vec_id", F.lit(1).alias("hit")))
    ids = F.array_join(
        F.transform(F.array_sort(F.collect_list(
            F.struct("rank", "vec_id"))),
            lambda s: s["vec_id"].cast("string")), ",")
    g = (exact.join(approx, ["query_id", "vec_id"], "left")
              .groupBy("query_id")
              .agg(F.count("*").alias("k_exact"),
                   ids.alias("exact_ids"),
                   F.sum(F.coalesce("hit", F.lit(0))).alias("_hits")))
    ok = (F.col("_hits") * 100
          >= F.col("k_exact") * IVF_RECALL_MIN_PCT)
    return g.select("query_id", "k_exact", "exact_ids",
                    ok.cast("int").alias("recall_ge_min"))
    # N_QUERY rows


# Live-vs-frozen IVF agreement floor (r15 graduation): measured
# per-query overlap@k of the live-KMeans IVF result against the
# frozen-centroid twin is 30-80% across queries and SFs on the
# unstructured fixture embeddings (concentrating near the probed-cell
# fraction, like the recall contract). The 10% floor (≥1 of 10) is a
# STRUCTURAL smoke contract — a broken live fit, empty probes, or a
# wrong candidate join zeroes the overlap and reads as a red driver
# row — not a retrieval-quality claim (quality evidence lives in the
# separated-cluster recall pytest pins).
IVF_LIVE_OVERLAP_MIN_PCT = 10


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graduated r15 (VERDICT r14 #1, the sim_ivf_recall_contract
    recipe): the LIVE-KMeans IVF result set is engine-specific, so the
    registered surface hashes the FROZEN twin's exact per-query top-k
    (the proven sim_ivf_topk_frozen math, recomputed by DuckDB) and
    rides the live fit as an asserted per-query agreement flag —
    overlap@k(live, frozen) ≥ IVF_LIVE_OVERLAP_MIN_PCT. The live
    per-pair result itself stays the library surface (ivf_topk /
    jobs/ann_index.py), pinned by pytest."""
    frozen = q_sim_ivf_topk_frozen(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = (e.filter(F.col("vec_id") < N_QUERY)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe")))
    centroids = _cached_ivf_centroids(spark, sf_dir, corpus)
    live = (ivf_topk(queries, corpus, centroids, TOP_K)
            .select("query_id", "vec_id", F.lit(1).alias("hit")))
    ids = F.array_join(
        F.transform(F.array_sort(F.collect_list(
            F.struct("rank", "vec_id"))),
            lambda s: s["vec_id"].cast("string")), ",")
    g = (frozen.join(live, ["query_id", "vec_id"], "left")
               .groupBy("query_id")
               .agg(F.count("*").alias("k_frozen"),
                    ids.alias("frozen_ids"),
                    F.sum(F.coalesce("hit", F.lit(0))).alias("_hits")))
    ok = (F.col("_hits") * 100
          >= F.col("k_frozen") * IVF_LIVE_OVERLAP_MIN_PCT)
    return g.select("query_id", "k_frozen", "frozen_ids",
                    ok.cast("int").alias("live_overlap_ge_min"))
    # N_QUERY rows


# --- embedding int8 quantization: the storage/bandwidth compression
#     every at-scale ANN corpus applies (4× smaller vectors, dot
#     products in int arithmetic downstream). Symmetric per-vector
#     scaling: q_i = round(x_i * 127/max|x|); `scale` rides along for
#     dequantization. Pure per-row array math, zero shuffles; each array
#     in its own projection stage (no HOF duplication). The quantized
#     vector is emitted comma-joined (driver hash canonicalizer can't
#     take arrays); max reconstruction error ≤ max|x|/254 by
#     construction, pinned in pytest. ---
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    s = 127.0 / F.array_max(F.transform(F.col("embedding"), F.abs))
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.col("_s"), 0).cast("int"))
    return (e.select("vec_id", "embedding", s.alias("_s"))
             .select("vec_id", "_s", qarr.alias("_q"))
             .select("vec_id",
                     F.round(F.col("_s"), 8).alias("scale"),
                     F.array_join(F.transform("_q",
                                              lambda x: x.cast("string")),
                                  ",").alias("q_int8")))


# --- PCA dimensionality reduction over the embedding column: the
#     standard pre-ANN compression (project to k components, then index
#     the smaller vectors). MLlib's distributed PCA: one pass builds the
#     Gramian (treeAggregate — a mergeable partial per partition, never
#     rows to the driver), the k×d eigenbasis is a driver/broadcast
#     artifact, and the projection is a per-row matrix multiply — the
#     same model-as-broadcast shape as the IVF centroids. Rows-only:
#     eigendecomposition isn't SQL-expressible; the component-recovery
#     and variance-ordering contracts are pinned in pytest. Output
#     projections are rounded to 6dp (eigenvector sign/ulps are
#     platform-dependent; the pytest pins subspace recovery, not raw
#     floats). ---
PCA_K = 8


# --- frozen PCA basis (r11 verdict #3): the 8 leading components of
#     one embed_pca fit on the sf0.001 fixture, frozen to integer
#     1e-6 units and embedded as literals — the model-as-artifact
#     shape of load_centroids, applied to PCA. A production pipeline
#     fits PCA once on a sample and applies the frozen basis
#     everywhere; freezing makes the projection SQL-expressible:
#     with vectors frozen to the same units (|x8| < 2^19, |c| < 2^19,
#     64-dim dot < 2^44) every dot product is EXACT in both int64 and
#     float64, and the single closing IEEE division by 1e12 is
#     bit-identical across engines. Provenance is pinned by pytest
#     (test_r12_properties: each frozen row matches a fresh sf0.001
#     refit up to sign, |cos| >= 0.999). ---
PCA_FROZEN_COMPONENTS: list[list[int]] = [
    [148827, 58049, -43575, 173283, -8858, -235811, -169725, -158988,
     -64539, 236562, -225757, -47035, -62054, -114844, -221933, -66996,
     104745, -16621, 115888, -124432, 49509, -41750, 189275, 39086,
     -92673, 215611, -45146, -235885, -58647, -35038, -13611, 10175,
     37786, -105016, 294643, -18753, 86303, 507, -23426, -28956, -84420,
     -63847, -113910, -75813, 80885, 221800, 73610, -302326, -87312,
     136750, -135253, -71733, 61038, -21305, 24159, 125777, 50157,
     -103313, 61740, -14282, -29864, -3813, 248260, 90805],
    [102896, -95621, -262899, 101436, -99003, 224674, 90603, 57530,
     216372, 58801, -64242, -66690, -67549, 6205, 102223, -41200,
     -142717, 25986, -179735, 227338, -290206, -77507, 207200, -260447,
     79141, -8759, 6199, 13173, -81458, -92662, -82984, -41385, -160376,
     -137816, -8605, 233877, 27140, -103004, -27482, 30349, -117316,
     262572, -75843, -35223, -73179, 147198, 140622, -29035, -161961,
     -54222, -57642, -93610, 24913, -33224, -161597, 85150, -115977,
     -49242, 65286, 92396, 27411, -128169, 77787, -197421],
    [-180579, 54678, 112845, -268147, -67549, -75063, 6651, -419742,
     26286, 141982, 25518, -117622, -38795, 107819, 76472, 26251,
     -186603, 112782, 80114, -48293, 162171, -41611, 60168, -89937,
     -27432, -19030, -40942, -191327, -193692, 132489, -28524, -43075,
     -78503, 134027, 139924, -6923, -102896, -192251, -28247, -85875,
     61587, 33975, 25198, 57620, -117842, -125082, 25340, -196158,
     190976, -51809, -6280, 8239, 16423, -119924, -161275, -107853,
     -158605, 148863, 42718, 204529, -32673, -168317, -97082, -216311],
    [57164, 72558, -98267, -69506, 52800, -145177, 86679, 28525, -89407,
     -204885, 13753, -94574, 107820, -28155, 24807, 87082, 53741,
     -197311, 7770, 27634, 32933, 210912, -54025, -223283, 230053,
     -56121, -78636, -174980, 31649, -13996, -96178, -213126, -29445,
     -82852, 90083, -62919, 213610, 142439, -255353, 107678, 111401,
     -185145, -4024, 120656, 71984, -576, -96436, 61090, 54915, -30728,
     -114267, -299050, 284023, 14907, -243433, -57381, 14686, -129446,
     127933, 11140, -111850, 88269, -113628, -129495],
    [-24615, -77387, 195559, 74242, -90159, -126627, -333921, 11642,
     99644, 93603, 101030, -14660, 52066, -41866, 145660, -5293, -66113,
     164589, 131507, 142715, 27486, -71986, 54215, 137289, 210611, 91694,
     88660, 56554, 28297, 78725, -110885, -75907, 143432, -22496, -8771,
     271791, 20910, -138924, -217211, -66653, -40463, 256258, 83412,
     -136252, 186298, -227484, -196943, -27030, -4172, 80622, -18110,
     -77631, 62138, 20208, -160851, 11387, 63536, -114909, 14928,
     -316353, 35656, 124232, -103369, -6053],
    [40916, -86580, -123553, 189733, -141381, 63882, 49058, -144354,
     72889, -39539, 50892, 21920, 168009, 147089, -20668, 68589, -67489,
     -36966, 29558, -193503, 139397, -39691, 184707, 20566, -39994,
     -4111, -252733, 8801, 389130, -177986, 6515, 85058, 52126, -128222,
     -1407, -177758, -89439, 49431, -103957, 43929, -249904, 252992,
     -36757, 165688, 101274, -81643, 1761, -166293, 12535, -73187,
     -25771, -108440, -134337, 573, 1389, -161143, 160483, 110430,
     -44739, 125467, -3457, 149897, -240078, -6201],
    [-236786, -139074, -207463, 28129, 43306, -86474, -141034, 11840,
     -149898, -27648, 90577, 80814, -45527, -4844, 81087, 75807, 266002,
     -120295, -136637, 37331, 47147, -96966, -18504, -92783, -102528,
     254577, -152130, -96415, -84120, 125411, -120378, 51346, -253823,
     161203, 120497, -72017, 133884, 138168, 214877, 26292, 123250,
     324864, 142942, -34552, 129227, 83866, -107050, 45792, -33060,
     -17171, -34113, 114483, -21898, 31890, -137390, 125472, 8060, 50256,
     -258899, -11314, -29051, 49446, -157529, -46513],
    [40843, 160593, 86847, 60839, -179554, 25518, -8330, 24134, -221405,
     -135065, 67650, -48287, -169748, -430747, -80642, 5771, 53366,
     -10465, -28721, 135718, 26538, 259061, 132080, 58714, 91240, -54685,
     97063, 19760, 49482, 106743, 61663, -188347, -48730, -109865, 61405,
     -158910, -94693, 78250, 26215, -124807, 31793, 232666, -105172,
     18063, -98166, 110088, -240776, -80827, 29173, -97993, 175881,
     -57551, -227769, -137603, -27196, -14915, 23608, 187171, 64846,
     -7902, 224721, -54128, 37948, -93359],
]


def embed_pca(embeddings: DataFrame, k: int = PCA_K,
              emb_col: str = "embedding"):
    """(fitted PCAModel, projected DataFrame (vec_id, pca array<double>),
    explained-variance list)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array
    feat = embeddings.select(
        "vec_id", array_to_vector(F.col(emb_col)).alias("features"))
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(feat)
    proj = model.transform(feat).select(
        "vec_id",
        F.transform(vector_to_array("pca"),
                    lambda x: F.round(x, 6)).alias("pca"))
    return model, proj, [float(v) for v in model.explainedVariance]


def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eigensolve path (MLlib fit per call) — library surface +
    pytest evidence; the REGISTERED pair is q_embed_pca_frozen (r11
    verdict #3 graduation)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, proj, _ = embed_pca(e)
    return proj.select(
        "vec_id",
        F.array_join(F.transform("pca", lambda x: x.cast("string")), ",")
         .alias("pca_csv"))  # O(input): unsorted; list->string (hash rule)


def q_embed_pca_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection under the FROZEN component basis (r11 verdict #3,
    the sim_ivf_topk_frozen treatment): vectors freeze to integer 1e-6
    units, each output coordinate is one exact integer dot against a
    PCA_FROZEN_COMPONENTS literal row (a per-row sequential fold — no
    shuffle, no explode, no join; the basis rides the expression tree
    like a broadcast model artifact), and the single closing division
    by 1e12 is bit-identical IEEE in both engines. Wide output
    (vec_id, p0..p7) keeps arrays out of the driver's hash
    canonicalizer. 100-TB shape: pure map-side column math — the scan
    is the plan."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    x8 = F.transform(F.col("embedding"),
                     lambda x: F.round(x.cast("double") * PROTO_SCALE)
                                .cast("bigint"))
    fe = (e.filter(F.size("embedding") >= 1)
           .select("vec_id", x8.alias("x8")))
    projs = []
    for k, comp in enumerate(PCA_FROZEN_COMPONENTS):
        lit = F.array(*[F.lit(int(c)).cast("bigint") for c in comp])
        dot = F.aggregate(F.zip_with("x8", lit, lambda a, b: a * b),
                          F.lit(0).cast("bigint"),
                          lambda acc, x: acc + x)
        projs.append((dot.cast("double") / F.lit(1e12)).alias(f"p{k}"))
    return fe.select("vec_id", *projs)  # O(input): unsorted


# --- prototype-distance pruning (Sorscher et al. 2022, "Beyond neural
#     scaling laws": rank examples by cosine to their class prototype;
#     on large datasets prune the EASIEST — most prototypical — first).
#     Spark-first + engine-exact: each float32 coordinate is frozen to
#     INTEGER 1e-6 units, per-(label, dim) sums are exact BIGINT aggs,
#     the prototype is the rounded mean back at the same scale, and
#     dot/norms are exact integer sums — the only float ops are the
#     final sqrt/divide (IEEE, bit-identical) + round(6). Plan shape:
#     one posexplode + two bounded hash aggs (key cardinality
#     labels × dims), prototypes BROADCAST back, per-vector scores from
#     one combinable agg, rank via per-label window. Overflow headroom:
#     |x8| < 2^20 ⇒ vn2, dot < 2^33·dims; the mean-not-sum prototype
#     keeps cn2 in the same bound regardless of class size. ---
PROTO_SCALE = 1_000_000


def prototype_scores(vecs: DataFrame, label_col: str = "label",
                     emb_col: str = "embedding") -> DataFrame:
    """(vec_id, label, cos_to_proto, proto_rank): cosine of each vector
    to its class prototype; rank 1 = most prototypical (prune first)."""
    x8 = F.transform(F.col(emb_col),
                     lambda x: F.round(x.cast("double") * PROTO_SCALE)
                                .cast("bigint"))
    # cheap pre-filter + posexplode_OUTER: the inner form makes
    # InferFiltersFromGenerate push `size(transform(...)) > 0` — the
    # whole freeze expression — into the scan-stage Filter (the exact
    # r5 decontam defect; tests/test_plan_guards.py rejects it)
    ex = (vecs.filter(F.size(F.col(emb_col)) >= 1)
              .select("vec_id", F.col(label_col).alias("label"),
                      x8.alias("_x8"))
              .select("vec_id", "label",
                      F.posexplode_outer("_x8").alias("dim", "v")))
    cmean = (ex.groupBy("label", "dim")
               .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
               .select("label", "dim",
                       F.round(F.col("s").cast("double") / F.col("n"))
                        .cast("bigint").alias("c")))
    cn2 = cmean.groupBy("label").agg(F.sum(F.col("c") * F.col("c"))
                                      .alias("cn2"))
    scored = (ex.join(F.broadcast(cmean), ["label", "dim"])
                .groupBy("vec_id", "label")
                .agg(F.sum(F.col("v") * F.col("c")).alias("dot"),
                     F.sum(F.col("v") * F.col("v")).alias("vn2"))
                .join(F.broadcast(cn2), "label")
                .select("vec_id", "label",
                        (F.col("dot").cast("double")
                         / (F.sqrt(F.col("vn2").cast("double"))
                            * F.sqrt(F.col("cn2").cast("double"))))
                        .alias("_cos")))
    from pyspark.sql import Window
    w = Window.partitionBy("label").orderBy(F.desc("_cos"), "vec_id")
    return (scored.withColumn("proto_rank", F.row_number().over(w))
                  .select("vec_id", "label",
                          F.round("_cos", 6).alias("cos_to_proto"),
                          "proto_rank"))


def q_embed_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings") \
        .select("vec_id", "label", "embedding")
    return prototype_scores(e)  # O(input): unsorted


# --- element-wise mean pooling: chunk embeddings → document embedding
#     (the aggregation a chunked-embedding store needs before doc-level
#     retrieval). Distributed tensor math via posexplode + (group, pos)
#     hash agg: partial combines make the per-position sums map-side,
#     the shuffle key is (groups × dims) — never a whole-vector
#     collect. Float portability: float32 components are frozen to
#     integer micro-units driver-free (round(v·1e6) per element), so
#     both engines do exact integer sums in any order; the mean divides
#     once at the end (the unigram-LM integer-nat discipline applied to
#     tensors). ---
POOL_GROUP = 8
_EMB_SCALE = 1_000_000


def mean_pool(emb: DataFrame, group_col, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(group_id, pos, avg_val): element-wise mean over each group's
    vectors, exact integer accumulation."""
    iv = F.round(F.col("v").cast("double") * _EMB_SCALE).cast("long")
    return (emb.select(group_col.alias("group_id"),
                       F.posexplode(vec_col).alias("pos", "v"))
               .select("group_id", "pos", iv.alias("_iv"))
               .groupBy("group_id", "pos")
               .agg((F.sum("_iv").cast("double")
                     / (F.count("_iv") * float(_EMB_SCALE)))
                    .alias("avg_val")))  # single IEEE div: bit-exact,
                                         # no round-mode divergence


def q_embed_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return mean_pool(emb, F.expr(f"vec_id div {POOL_GROUP}"))
    # O(groups × dims): unsorted


# --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
#     deduplication — cluster the embedding space, then compare pairs
#     ONLY within a cluster and drop, from every pair above the cosine
#     threshold, the member MORE similar to its cluster centroid (the
#     paper's keep-low-centroid-similarity rule: prototypical copies
#     go, the outlier representative stays). Never all-pairs: the
#     intra-cluster self-join is the whole point — at 100 TB k scales
#     with N (the paper uses k ≈ N/10⁴) so cluster sizes stay bounded
#     and pair work is O(N·cluster_size), not O(N²).
#
#     Engine-exact (the embed_prototype_prune discipline): embeddings
#     freeze to INTEGER 1e-6 units, centroids are integer vectors, so
#     cluster assignment (argmin of the exact-integer squared distance
#     vn2 - 2·dot + cn2, ties by cid) is identical on both engines; the
#     only float ops are the final sqrt/divide cosines — identical IEEE
#     expression trees, bit-identical doubles, so the >= threshold cut
#     and the who-is-closer-to-centroid comparison agree exactly.
#
#     Two centroid front-ends feed the same core: the registered query
#     derives integer-frozen label prototypes (SQL-reproducible → full
#     hash-check vs DuckDB); `freeze_kmeans_centroids` adapts the
#     driver-side k-means fit (fit_kmeans_np — numpy Lloyd over the
#     id-ordered, capped fit sample, as the paper fits on one machine
#     with FAISS; pytest-pinned with planted semantic dups and with
#     partition/row-order invariance). Its centroids are a pure
#     function of (data, k, seed), but they are not DuckDB-derivable,
#     so that form stays rows-only. ---
SEMDEDUP_THRESHOLD = 0.35  # fixture-tuned: drops exist at all 3 SFs


SEMDEDUP_ROWS_PER_CLUSTER = 100  # target expected cluster size: the
# paper (Abbas et al. 2023) scales k WITH the corpus (k ≈ N/10⁴ on
# LAION); holding N/k bounded is what keeps the intra-cluster pair
# join O(N·cluster_size) instead of collapsing toward O(N²)
SEMDEDUP_MAX_K = 4096  # centroid table stays a broadcastable
                       # O(k·dim) artifact under this cap

# ... and past this many rows the k-means FIT input auto-samples down
# to the cap (k-means assignment cost per iteration scales with the
# fit input; centroid quality needs only a representative sample).
# The sample is collected to the driver, so the cap also bounds the
# fit's memory: the Lloyd loop holds the cap × dim float64 matrix
# (51 MB at dim 64) plus one distance block of at most _KMEANS_BLOCK
# doubles; the collect that builds the matrix peaks at about two
# copies of it (the Arrow buffers and the id-ordered matrix).
SEMDEDUP_FIT_CAP = 100_000
_KMEANS_BLOCK = 1 << 22   # doubles per (rows × k) distance block: 32 MB
_KMEANS_MAX_ITER = 10     # MLlib KMeans' defaults: at most 10 Lloyd
_KMEANS_TOL = 1e-4        # steps, stop once no centre moves further

def semdedup_k_for(n_rows: int,
                   rows_per_cluster: int = SEMDEDUP_ROWS_PER_CLUSTER,
                   max_k: int = SEMDEDUP_MAX_K) -> int:
    """Enforced k-scaling rule for SemDeDup: k grows with N so the
    expected cluster size stays ≤ rows_per_cluster (pair work per
    cluster is size², so bounded size ⇒ linear total pair work),
    capped so the centroid table stays broadcast-sized. Raising the
    cap at extreme N trades broadcast size for cluster size — at
    k = max_k the expected cluster is N/max_k, which the caller must
    re-bound (shrink rows_per_cluster via a bigger max_k) before the
    pair join degenerates."""
    if n_rows <= 0:
        return 2
    return max(2, min(max_k, -(-n_rows // rows_per_cluster)))


def _fit_sample(vecs: DataFrame, id_col: str, emb_col: str,
                sample_ppm: int | None):
    """The k-means fit input as a (rows, dim) float64 matrix, collected
    once through Arrow and ordered by id — so the fit sees the same
    matrix however the frame is partitioned or its batches arrive.
    NULL/empty embeddings drop out (as _freeze_vectors drops them) and
    NULL elements read as 0 (as _assign_np reads them); ragged
    dimensions raise. Each Arrow buffer is released as soon as the next
    form exists, so at most about two copies of the sample are alive."""
    import numpy as np
    import pyarrow.compute as pc

    if sample_ppm is not None:
        from .sampling import sample_hash
        vecs = sample_hash(vecs, id_col, sample_ppm)
    t = (vecs.filter(F.size(F.col(emb_col)) >= 1)
             .select(id_col, emb_col).toArrow())
    if t.num_rows == 0:
        return np.zeros((0, 0))
    order = np.argsort(t.column(id_col).to_numpy(), kind="stable")
    emb = t.column(emb_col).combine_chunks()
    del t
    lens = pc.list_value_length(emb).to_numpy()
    if (lens != lens[0]).any():
        raise ValueError(f"SemDeDup: ragged {emb_col} dimensions "
                         f"{sorted(set(lens.tolist()))}")
    flat = pc.fill_null(emb.flatten(), 0)
    del emb
    X = flat.to_numpy(zero_copy_only=False).reshape(len(order),
                                                    int(lens[0]))
    del flat
    return X[order].astype(np.float64, copy=False)


def _nearest(X, C):
    """Index of each row of X's nearest row of C (ties → the lower
    index), in row blocks of at most _KMEANS_BLOCK distances, so the
    driver never holds the whole len(X) × len(C) matrix."""
    import numpy as np

    lab = np.zeros(len(X), dtype=np.int64)
    if len(X) == 0:
        return lab
    cn2 = (C * C).sum(axis=1)
    block = max(1, _KMEANS_BLOCK // len(C))
    for s in range(0, len(X), block):
        # ‖x‖² is constant per row, so argmin needs only ‖c‖² − 2x·c
        D = X[s:s + block] @ C.T
        D *= -2.0
        D += cn2
        lab[s:s + block] = D.argmin(axis=1)
    return lab


def fit_kmeans_np(X, k: int,
                  seed: int = 42) -> list[tuple[int, list[float]]]:
    """Driver-side k-means over a bounded fit sample X (rows, dim) →
    [(cid, centroid)], the shape fit_ivf_centroids returns.

    Init: k distinct sample rows drawn by a generator seeded with
    `seed` (the FAISS init — O(k), where k-means++ would cost k passes
    over the sample). Then Lloyd's steps with MLlib's defaults: at
    most _KMEANS_MAX_ITER iterations, stopping once no centre moves
    more than _KMEANS_TOL; an empty cluster keeps its previous centre.
    k is clamped to the sample size. Distances run in row blocks
    (_nearest) and cluster sums by per-dimension bincount, so besides
    X the fit holds one distance block and O(k·dim) centres.
    Deterministic for a given (X, k, seed)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    k = min(k, n)
    if k <= 0:
        return []
    rng = np.random.default_rng(seed)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(_KMEANS_MAX_ITER):
        lab = _nearest(X, C)
        counts = np.bincount(lab, minlength=k)
        hit = counts > 0
        sums = np.stack([np.bincount(lab, weights=X[:, j], minlength=k)
                         for j in range(X.shape[1])], axis=1)
        new = C.copy()
        new[hit] = sums[hit] / counts[hit, None]
        moved = ((new - C) ** 2).sum(axis=1).max()
        C = new
        if moved <= _KMEANS_TOL * _KMEANS_TOL:
            break
    return [(i, c.tolist()) for i, c in enumerate(C)]


def semdedup_kmeans(spark: SparkSession, vecs: DataFrame,
                    id_col: str = "vec_id", emb_col: str = "embedding",
                    k: int | None = None,
                    threshold: float = SEMDEDUP_THRESHOLD,
                    seed: int = 42,
                    sample_ppm: int | None = None,
                    two_level: bool | None = None,
                    fit_cap: int = SEMDEDUP_FIT_CAP) -> DataFrame:
    """SemDeDup with k-means centroids — the SCALE path (the paper's
    own clustering front-end), composing the driver-side fit
    (fit_kmeans_np over _fit_sample) → assignment → the shared pair
    stage. The label-prototype front-end (q_sim_semdedup) stays the
    exactness witness: identical core, a SQL-derivable centroid table,
    full DuckDB hash-check. This form is rows-only: its centroids are
    deterministic, but no SQL engine re-derives them.

    k defaults to semdedup_k_for(count): cluster count grows with the
    corpus so expected cluster size — and with it the intra-cluster
    pair fan-out — stays bounded. The count is one bounded driver
    scalar. k is clamped to the fit sample's size, so an input of 0
    or 1 embedded vectors is valid (0 → empty result, 1 → kept).

    The fit reads at most fit_cap rows: past that (or whenever
    sample_ppm is given) it reads a deterministic hash-sample. The
    sample is collected once to the driver (memory bound at
    SEMDEDUP_FIT_CAP) and the fit runs no Spark job; the per-iteration
    assignment over the full corpus is what a distributed k-means pays
    for N, and a representative sample fixes centroid quality at a
    constant cost (the curate funnel inherits this automatically).

    two_level (default: auto at k >= TWO_LEVEL_MIN_K) switches the
    assignment from the exhaustive O(N·k·d) broadcast join — which the
    k ∝ N rule makes quadratic in N — to the two-level routed
    O(N·√k·d) form (semdedup_assign_routed). Nothing currently in the
    registry or scale bench crosses either auto threshold; both paths
    are pinned by pytest."""
    n = vecs.count()                      # one bounded driver scalar
    if k is None:
        k = semdedup_k_for(n)
    if sample_ppm is None and n > fit_cap:
        sample_ppm = max(1, 1_000_000 * fit_cap // n)
    cents = fit_kmeans_np(_fit_sample(vecs, id_col, emb_col, sample_ppm),
                          k, seed)
    if two_level is None:
        two_level = len(cents) >= TWO_LEVEL_MIN_K
    frozen = _freeze_vectors(vecs, id_col, emb_col)
    if two_level:
        assigned = semdedup_assign_routed(spark, frozen, cents)
        return _semdedup_pairs(frozen, assigned, threshold)
    return semdedup(frozen,
                    freeze_kmeans_centroids(spark, cents), threshold)


# Exhaustive centroid assignment does N·k·d multiply-adds; under the
# paper's k ∝ N rule that term is quadratic in N. Past this k the
# scale path routes two-level (O(N·√k·d)) — below it the exhaustive
# form is cheaper than the routing join it would replace.
TWO_LEVEL_MIN_K = 256


def _group_centroids(centroids, kc: int, seed: int = 42):
    """Group the k FINE centroids into at most kc coarse groups with
    the same driver-side fit as the centroids themselves (fit_kmeans_np
    over the k ≤ SEMDEDUP_MAX_K centroids — never touches the corpus):
    returns (group centers (≤ kc, d) float64, each fine centroid's
    nearest group id). kc clamps to k, so 0 or 1 centroids are valid."""
    import numpy as np

    X = np.array([c for _, c in centroids], dtype=np.float64)
    centers = np.array([c for _, c in fit_kmeans_np(X, kc, seed)])
    return centers, _nearest(X, centers)


def semdedup_assign_routed(spark: SparkSession, frozen: DataFrame,
                           centroids, kc: int | None = None) -> DataFrame:
    """Two-level centroid assignment (the IVF idea applied to
    SemDeDup's own assignment): the k fine centroids are grouped into
    kc ≈ √k coarse groups DRIVER-SIDE (k is a bounded model artifact),
    each vector routes to its nearest coarse group (N·kc·d), then
    argmins over ONLY that group's fine centroids (N·(k/kc)·d
    expected) — O(N·√k·d) total where the exhaustive join is O(N·k·d),
    the term that goes quadratic under k ∝ N. Costs one extra keyed
    join of the exploded frame (N·d rows) to attach the route — a
    bargain against (k−√k)·d multiply-adds per vector at scale.

    Returns (vec_id, cid, vn2, cos_c) — the same integer-exact math
    as the exhaustive path, so wherever routing picks the same cid the
    output is BIT-IDENTICAL. Approximation: near a coarse-group
    boundary the true nearest fine centroid can sit in the
    unprobed neighboring group (the standard IVF recall trade);
    SemDeDup tolerates it — a boundary vector lands in the adjacent
    cluster and pairs there instead."""
    import numpy as np

    from pyspark.sql import Window
    k = len(centroids)
    if kc is None:
        kc = max(2, int(np.ceil(np.sqrt(k))))
    centers, g = _group_centroids(centroids, kc)
    coarse = _long_form(spark, {"gid": np.arange(len(centers))}, centers,
                        "gid int, dim int, gc bigint", "gc")
    fine = _long_form(spark, {"gid": g,
                              "cid": [cid for cid, _ in centroids]},
                      [vec for _, vec in centroids],
                      "gid int, cid int, dim int, c bigint")

    ex = frozen.select("vec_id",
                       F.posexplode_outer("x8").alias("dim", "v"))
    gn2 = coarse.groupBy("gid").agg(F.sum(F.col("gc") * F.col("gc"))
                                     .alias("gn2"))
    wg = Window.partitionBy("vec_id").orderBy("dist2", "gid")
    routed = (ex.join(F.broadcast(coarse), "dim")
                .groupBy("vec_id", "gid")
                .agg(F.sum(F.col("v") * F.col("gc")).alias("dot"),
                     F.sum(F.col("v") * F.col("v")).alias("vn2"))
                .join(F.broadcast(gn2), "gid")
                .withColumn("dist2", F.col("vn2") - 2 * F.col("dot")
                            + F.col("gn2"))
                .withColumn("_rn", F.row_number().over(wg))
                .filter(F.col("_rn") == 1)
                .select("vec_id", "gid"))
    cn2 = fine.groupBy("cid").agg(F.sum(F.col("c") * F.col("c"))
                                   .alias("cn2"))
    wc = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    return (ex.join(routed, "vec_id")
              .join(F.broadcast(fine), ["gid", "dim"])
              .groupBy("vec_id", "cid")
              .agg(F.sum(F.col("v") * F.col("c")).alias("dot"),
                   F.sum(F.col("v") * F.col("v")).alias("vn2"))
              .join(F.broadcast(cn2), "cid")
              .withColumn("dist2", F.col("vn2") - 2 * F.col("dot")
                          + F.col("cn2"))
              .withColumn("_rn", F.row_number().over(wc))
              .filter(F.col("_rn") == 1)
              .select("vec_id", "cid", "vn2",
                      (F.col("dot").cast("double")
                       / (F.sqrt(F.col("vn2").cast("double"))
                          * F.sqrt(F.col("cn2").cast("double"))))
                      .alias("cos_c")))


def _long_form(spark: SparkSession, keys: dict, vecs, schema: str,
               value: str = "c") -> DataFrame:
    """(*keys, dim, value): one row per entry of the (rows, dim) matrix
    `vecs`, value = the entry in PROTO_SCALE integer units (round half to
    even, as Python's round). `keys` maps column name → one value per
    matrix row. Built as a pyarrow Table, which createDataFrame ships
    to the JVM whole — no Python worker runs, whatever the session's
    Arrow setting."""
    import numpy as np
    import pyarrow as pa

    V = np.asarray(vecs, dtype=np.float64)
    V = V.reshape(len(V), -1) if V.size else np.zeros((len(V), 0))
    d = V.shape[1]
    cols = {name: np.repeat(np.asarray(v, dtype=np.int64), d)
            for name, v in keys.items()}
    cols["dim"] = np.tile(np.arange(d, dtype=np.int64), len(V))
    cols[value] = np.round(V * PROTO_SCALE).astype(np.int64).ravel()
    return spark.createDataFrame(pa.table(cols), schema)


def freeze_kmeans_centroids(spark: SparkSession, centroids) -> DataFrame:
    """fit_kmeans_np / fit_ivf_centroids output [(cid, [float])] →
    long-form integer centroid table (cid, dim, c) in PROTO_SCALE units
    — the bounded O(k·dim) model artifact semdedup consumes, built
    through Arrow (_long_form)."""
    return _long_form(spark, {"cid": [cid for cid, _ in centroids]},
                      [vec for _, vec in centroids],
                      "cid int, dim int, c bigint")


def _freeze_vectors(vecs: DataFrame, id_col: str = "vec_id",
                    emb_col: str = "embedding") -> DataFrame:
    """(id, x8 array<bigint>): integer-frozen embedding. The size>=1
    pre-filter keeps InferFiltersFromGenerate from cloning the freeze
    transform into a scan Filter (the decontam defect; guard-tested)."""
    x8 = F.transform(F.col(emb_col),
                     lambda x: F.round(x.cast("double") * PROTO_SCALE)
                                .cast("bigint"))
    return (vecs.filter(F.size(F.col(emb_col)) >= 1)
                .select(F.col(id_col).alias("vec_id"), x8.alias("x8")))


def label_prototype_centroids(vecs: DataFrame, label_col: str = "label",
                              emb_col: str = "embedding") -> DataFrame:
    """(cid, dim, c): per-label integer-frozen mean vectors — the
    SQL-reproducible centroid source (same expression tree as
    prototype_scores' cmean, which is oracle-proven)."""
    x8 = F.transform(F.col(emb_col),
                     lambda x: F.round(x.cast("double") * PROTO_SCALE)
                                .cast("bigint"))
    ex = (vecs.filter(F.size(F.col(emb_col)) >= 1)
              .select(F.col(label_col).alias("cid"), x8.alias("_x8"))
              .select("cid", F.posexplode_outer("_x8").alias("dim", "v")))
    return (ex.groupBy("cid", "dim")
              .agg(F.round(F.sum("v").cast("double") / F.count("*"))
                    .cast("bigint").alias("c")))


def _assign_np(frozen: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, vn2, cos_c): exact nearest-centroid assignment as
    ONE Arrow-batched numpy pass (r17, guide §4.2 — hand whole batches
    to vectorized native code). Replaces the posexplode → broadcast
    dim-join → (vec_id, cid) hash agg → top-1 window chain (four
    stages materializing N·k·d joined rows) with a map-side
    projection; the centroid table is a bounded O(k·dim) model
    artifact collected once (the load_centroids discipline) and rides
    the closure.

    BIT-IDENTICAL to the expression path it replaces: every quantity
    is an integer below 2^53 (|x8|, |c| < 2^20 ⇒ dot, vn2, cn2,
    dist2 < 2^47), so float64 matmuls and sums are exact; argmin over
    columns ordered by ascending cid reproduces the (dist2, cid)
    window tie-break; the closing cos_c = dot/(√vn2·√cn2) runs the
    same IEEE-754 double ops the JVM ran. Vectors shorter/longer than
    the centroid dim count contribute exactly the dims the dim
    equality join kept (zero-pad/truncate), and an empty/NULL x8 drops
    out like the inner join dropped it. A zero-norm vector (or
    centroid) gets cos_c NULL, as the expression path's division by
    zero gave. Centroid ids must be non-NULL integers, and the centroid
    table must be dense — every cid has dims 0..d-1 (the expression
    path would drop a missing dim from that cid's norm); anything else
    raises ValueError. Pinned against the expression twin by the
    routed-vs-exhaustive parity pytest."""
    import numpy as np

    cid_t = cents.schema["cid"].dataType.simpleString()
    cid_np = {"tinyint": np.int8, "smallint": np.int16, "int": np.int32,
              "bigint": np.int64}.get(cid_t)
    if cid_np is None:
        raise ValueError(f"semdedup: centroid ids must be integers, "
                         f"got cid {cid_t}")
    rows = cents.collect()            # bounded O(k·dim) model artifact
    by_cid: dict[int, dict[int, int]] = {}
    for r in rows:
        if r.cid is None:
            raise ValueError("semdedup: NULL centroid id")
        by_cid.setdefault(r.cid, {})[int(r.dim)] = int(r.c)
    cids = sorted(by_cid)
    d = 1 + max((dim for v in by_cid.values() for dim in v), default=0)
    ragged = [cid for cid in cids if len(by_cid[cid]) != d]
    if ragged:
        raise ValueError(f"semdedup: ragged centroid table, cid(s) "
                         f"{ragged[:5]} lack some of dims 0..{d - 1}")
    C = np.zeros((len(cids), d), dtype=np.float64)
    for i, cid in enumerate(cids):
        for dim, c in by_cid[cid].items():
            C[i, dim] = c
    cn2 = (C * C).sum(axis=1)         # exact: integer-valued float64
    cid_arr = np.array(cids, dtype=np.int64)
    id_t = frozen.schema["vec_id"].dataType.simpleString()
    schema = f"vec_id {id_t}, cid {cid_t}, vn2 bigint, cos_c double"

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            vals = pdf["x8"].tolist()
            n = len(vals)
            if n == 0:
                continue
            keep = np.ones(n, dtype=bool)
            try:                       # fast path: uniform d, no NULLs
                X = np.asarray(vals, dtype=np.float64)
                if X.ndim != 2 or X.shape[1] != d:
                    raise ValueError
            except (ValueError, TypeError):
                X = np.zeros((n, d), dtype=np.float64)
                for i, v in enumerate(vals):
                    if v is None or len(v) == 0:
                        keep[i] = False   # the inner dim join drops it
                        continue
                    a = np.asarray(
                        [0 if x is None else x for x in v],
                        dtype=np.float64)
                    m = min(len(a), d)
                    X[i, :m] = a[:m]
            dots = X @ C.T
            vn2 = (X * X).sum(axis=1)
            dist2 = vn2[:, None] - 2.0 * dots + cn2[None, :]
            j = np.argmin(dist2, axis=1)     # ties → lowest cid
            ar = np.arange(n)
            with np.errstate(invalid="ignore"):    # 0/0 at zero norm
                cos = dots[ar, j] / (np.sqrt(vn2) * np.sqrt(cn2[j]))
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy()[keep],
                "cid": cid_arr[j][keep].astype(cid_np),
                "vn2": vn2[keep].astype(np.int64),
                # the nullable dtype makes that 0/0 NULL, not NaN (NaN
                # sorts above every value in the keep rule)
                "cos_c": pd.array(cos[keep], dtype="Float64")})

    return frozen.select("vec_id", "x8").mapInPandas(assign, schema)


def semdedup(frozen: DataFrame, cents: DataFrame,
             threshold: float = SEMDEDUP_THRESHOLD) -> DataFrame:
    """(vec_id, cid, cos_to_centroid, is_kept): SemDeDup over frozen
    integer vectors and an integer centroid table.

    Plan shape (r17): assignment is one Arrow-batched numpy projection
    (_assign_np — bit-identical to the posexplode → broadcast-join →
    agg → window expression chain it replaced; guide §4.2), then the
    intra-cluster pair join is an equality join on cid over id+array
    rows, with the pair cosine as one zip_with/aggregate per candidate
    pair."""
    return _semdedup_pairs(frozen, _assign_np(frozen, cents), threshold)


def _semdedup_pairs(frozen: DataFrame, assigned: DataFrame,
                    threshold: float) -> DataFrame:
    """The cluster-local pair stage shared by every assignment
    front-end (exhaustive, label-prototype, two-level routed):
    intra-cluster pair cosines, the paper's keep-low-centroid-
    similarity drop rule, and the keep-flag projection."""
    # `en` feeds the a-side, the b-side AND the final output — without
    # lineage truncation Spark recomputes the whole
    # explode→join→agg→window subtree once per reference. A non-eager
    # localCheckpoint (materialized by the query's own first action,
    # shared by all three readers) makes it compute once — the
    # components.py one-action-per-round discipline.
    en = (assigned.join(frozen, "vec_id")
                  .localCheckpoint(eager=False))
    a = en.select(F.col("vec_id").alias("a_id"), "cid",
                  F.col("vn2").alias("a_vn2"), F.col("cos_c").alias("a_cc"),
                  F.col("x8").alias("a_x8"))
    b = en.select(F.col("vec_id").alias("b_id"), "cid",
                  F.col("vn2").alias("b_vn2"), F.col("cos_c").alias("b_cc"),
                  F.col("x8").alias("b_x8"))
    pdot = F.aggregate(F.zip_with("a_x8", "b_x8", lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    pairs = (a.join(b, "cid")
              .filter(F.col("a_id") < F.col("b_id"))
              .select("a_id", "b_id", "a_cc", "b_cc",
                      (pdot.cast("double")
                       / (F.sqrt(F.col("a_vn2").cast("double"))
                          * F.sqrt(F.col("b_vn2").cast("double"))))
                      .alias("cos_pair"))
              .filter(F.col("cos_pair") >= threshold))
    dropped = (pairs.select(
                   F.when((F.col("a_cc") > F.col("b_cc"))
                          | ((F.col("a_cc") == F.col("b_cc"))
                             & (F.col("a_id") > F.col("b_id"))),
                          F.col("a_id")).otherwise(F.col("b_id"))
                    .alias("vec_id"))
                    .distinct()
                    .withColumn("_d", F.lit(1)))
    return (en.join(dropped, "vec_id", "left")
              .select("vec_id", "cid",
                      F.round("cos_c", 6).alias("cos_to_centroid"),
                      F.col("_d").isNull().alias("is_kept")))


def _cached_frozen_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen label-prototype SemDeDup frame (O(N) rows),
    persisted once per (appId, sf_dir): it is BOTH the sim_semdedup
    result and sim_semdedup_kmeans' hashed frozen side — before r16
    each entry recomputed the whole explode→assign→pair pipeline."""
    def build() -> DataFrame:
        e = table(spark, sf_dir, "embeddings") \
            .select("vec_id", "label", "embedding")
        return semdedup(_freeze_vectors(e),
                        _cached_label_protos(spark, sf_dir)).persist()
    return session_artifact(spark, ("similarity.frozen_semdedup", sf_dir),
                            build)


def q_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_frozen_semdedup(spark, sf_dir)  # O(input): unsorted


def q_sim_ivf_topk_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k through the PRODUCTION path (ivf_topk →
    _assign_clusters → ivf_topk_assigned — the exact operators
    jobs/ann_index.py queries the stored index with), made fully
    oracle-able by removing the one non-SQL piece, the KMeans fit
    (r10 verdict #5, the sim_ann_lsh treatment):

      * centroids are the integer-frozen per-label mean prototypes
        (label_prototype_centroids — the proven sim_semdedup source),
        collected as a bounded O(labels·dim) driver artifact exactly
        like the stored index's load_centroids;
      * corpus and query embeddings are frozen to integer 1e-6 units
        (as DOUBLE-typed integers, |x8| < 2²⁰), so the float
        assignment UDF's distances (< 2⁴⁶) and the sequential-fold
        cosine's dot products are EXACT in float64 — summation order
        can't matter, ties in both the cell argsort and the rank
        window break by cid/vec_id identically on both engines.

    Same plan shape as the rows-only q_sim_ivf_topk: map-side
    assignment (centroids ride the UDF closure), one broadcast
    equality join on cid, one top-k window. The bounded result frame
    (N_QUERY·k rows) is session-cached: sim_ivf_topk consumes it as
    its hashed frozen side, so without the cache one bench pass ran
    this whole frozen path twice (r16, guide §1.2)."""
    def build() -> DataFrame:
        e = table(spark, sf_dir, "embeddings") \
            .select("vec_id", "label", "embedding")
        x8d = F.transform(F.col("embedding"),
                          lambda x: F.round(x.cast("double") * PROTO_SCALE))
        fe = (e.filter(F.size("embedding") >= 1)
               .select("vec_id", x8d.alias("fe")))
        by_cid: dict[int, dict[int, float]] = {}
        for r in _cached_label_protos(spark, sf_dir).collect():
            by_cid.setdefault(int(r.cid), {})[int(r.dim)] = float(r.c)
        centroids = [(cid, [dims[d] for d in range(len(dims))])
                     for cid, dims in sorted(by_cid.items())]
        corpus = fe.select("vec_id", F.col("fe").alias("embedding"))
        queries = (fe.filter(F.col("vec_id") < N_QUERY)
                     .select(F.col("vec_id").alias("query_id"),
                             F.col("fe").alias("qe")))
        return ivf_topk(queries, corpus, centroids, TOP_K).persist()
    return session_artifact(spark, ("similarity.ivf_frozen_topk", sf_dir),
                            build)


# Live-vs-frozen SemDeDup kept-set agreement floor (r15 graduation):
# the live k-means front-end (k ∝ N) and the frozen label-prototype
# front-end share the exact pair stage but cluster differently, so
# their kept sets agree 60-78% across SFs on the unstructured fixture
# (measured with the driver-side fit: 77.8/75.4/59.6% at
# sf0.001/0.01/0.1; the sf0.1 k jump to semdedup_k_for(2000)=20
# clusters is the low end). The 50% floor is a STRUCTURAL smoke
# contract — a broken live assignment or a degenerate drop stage
# (everything kept/dropped) reads as a red driver row.
SEMDEDUP_LIVE_AGREE_MIN_PCT = 50


def q_sim_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper-faithful scale form: data-derived k-means clusters
    (k grows with N via semdedup_k_for) instead of label prototypes.

    Graduated r15 (VERDICT r14 #1, the sim_ivf_recall_contract
    recipe): the k-means centroids come from a numpy fit that no SQL
    engine re-derives (deterministic, but not DuckDB-reproducible), so
    the per-vec assignment is not oracle-checkable and the registered
    surface hashes the FROZEN label-prototype SemDeDup's exact
    aggregate evidence (kept count + kept-id checksum, recomputed by
    DuckDB through the proven sim_semdedup CTEs) and rides the live
    k-means kept set as asserted agreement/sanity flags. The live
    per-vec frame stays the library surface (semdedup_kmeans), pinned
    by the planted-dup pytest."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    live = (semdedup_kmeans(spark, e)
            .select("vec_id", F.col("is_kept").alias("_lk")))
    frozen = (_cached_frozen_semdedup(spark, sf_dir)
              .select("vec_id", F.col("is_kept").alias("_fk")))
    g = (frozen.join(live, "vec_id")
               .agg(F.count("*").alias("n_vecs"),
                    F.sum(F.col("_fk").cast("long"))
                     .alias("n_kept_frozen"),
                    F.sum(F.when(F.col("_fk"), F.col("vec_id"))
                           .otherwise(F.lit(0)))
                     .alias("kept_frozen_idsum"),
                    F.sum((F.col("_fk") == F.col("_lk")).cast("long"))
                     .alias("_agree"),
                    F.sum(F.col("_lk").cast("long")).alias("_lkept")))
    ok = (F.col("_agree") * 100
          >= F.col("n_vecs") * SEMDEDUP_LIVE_AGREE_MIN_PCT)
    sane = ((F.col("_lkept") >= 1) & (F.col("_lkept") <= F.col("n_vecs")))
    return g.select("n_vecs", "n_kept_frozen", "kept_frozen_idsum",
                    ok.cast("int").alias("live_agree_ge_min"),
                    sane.cast("int").alias("live_kept_in_bounds"))
    # 1 row


def warm_sim_family(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the family's session-shared builds (r17, VERDICT
    r16 #3): the live-KMeans IVF centroids (consumed by sim_ivf_topk +
    sim_ivf_recall_contract), the persisted label-prototype table, the
    persisted frozen SemDeDup frame (sim_semdedup + sim_semdedup_kmeans'
    hashed side) and the bounded frozen IVF top-k (sim_ivf_topk's
    hashed side). bench.py times this as its own `artifact:sim_family`
    entry — without it, whichever sim entry ran first in registry order
    absorbed the whole family's one-time build cost (r16 PERF:
    sim_ivf_topk 3.40 in-map vs 1.59 solo warm), so per-entry
    cross-round deltas for the first consumer were noise by
    construction (the r8 shingle-artifact precedent)."""
    def _noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    e = table(spark, sf_dir, "embeddings")
    _cached_ivf_centroids(spark, sf_dir, e.select("vec_id", "embedding"))
    _noop(_cached_label_protos(spark, sf_dir))
    _noop(_cached_frozen_semdedup(spark, sf_dir))
    _noop(q_sim_ivf_topk_frozen(spark, sf_dir))


QUERIES = {
    "embed_mean_pool": q_embed_mean_pool,
    "sim_topk_cosine": q_sim_topk_cosine,
    "embed_prototype_prune": q_embed_prototype_prune,
    "embed_pca_frozen": q_embed_pca_frozen,      # the graduated pair;
    # the eigensolve path (q_embed_pca / embed_pca) stays a library
    # surface with its contracts pinned in pytest
    "sim_ann_lsh": q_sim_ann_lsh,
    "sim_near_dup_pairs": q_sim_near_dup_pairs,
    "sim_ivf_topk": q_sim_ivf_topk,              # graduated r15: frozen
    #   top-k hashes + live-vs-frozen overlap as an asserted flag
    "sim_ivf_recall_contract": q_sim_ivf_recall_contract,  # late r14:
    #   exact top-k hashes + the LIVE fit's recall as an asserted flag
    "sim_ivf_topk_frozen": q_sim_ivf_topk_frozen,
    "embed_quantize": q_embed_quantize,
    "sim_semdedup": q_sim_semdedup,
    "sim_semdedup_kmeans": q_sim_semdedup_kmeans,  # graduated r15:
    #   frozen aggregate hashes + live kept-set agreement flags
}

ORACLE = {
    "embed_mean_pool": f"""
WITH ex AS (
  SELECT vec_id // {POOL_GROUP} AS group_id,
         unnest(range(0, len(embedding))) AS pos,
         unnest(list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {_EMB_SCALE}) AS BIGINT)))
           AS iv
  FROM embeddings
)
SELECT group_id, CAST(pos AS INT) AS pos,
       CAST(CAST(SUM(iv) AS BIGINT) AS DOUBLE)
         / (COUNT(iv) * {float(_EMB_SCALE)}) AS avg_val
FROM ex GROUP BY group_id, pos
""",
    "embed_prototype_prune": f"""
WITH ex AS (
  SELECT vec_id, label, i AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {PROTO_SCALE})
              AS BIGINT) AS v
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS t(i)
), cmean AS (
  SELECT label, dim,
         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, dim
), cn2 AS (
  SELECT label, CAST(SUM(c * c) AS BIGINT) AS cn2
  FROM cmean GROUP BY label
), sc AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(e.v * c.c) AS BIGINT) AS dot,
         CAST(SUM(e.v * e.v) AS BIGINT) AS vn2
  FROM ex e JOIN cmean c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.vec_id, e.label
), cosd AS (
  SELECT s.vec_id, s.label,
         CAST(s.dot AS DOUBLE)
           / (SQRT(CAST(s.vn2 AS DOUBLE)) * SQRT(CAST(n.cn2 AS DOUBLE)))
           AS _cos
  FROM sc s JOIN cn2 n USING (label)
)
SELECT vec_id, label, ROUND(_cos, 6) AS cos_to_proto,
       ROW_NUMBER() OVER (PARTITION BY label
                          ORDER BY _cos DESC, vec_id) AS proto_rank
FROM cosd
""",
    "embed_quantize": """
WITH s AS (
  SELECT vec_id, embedding,
         127.0 / list_max(list_transform(embedding,
                                         x -> abs(CAST(x AS DOUBLE))))
           AS sc
  FROM embeddings
)
SELECT vec_id, ROUND(sc, 8) AS scale,
       array_to_string(list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * sc, 0) AS INT)), ',')
         AS q_int8
FROM s
""",
    "sim_semdedup": f"""
WITH fr AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {PROTO_SCALE}) AS BIGINT))
           AS x8
  FROM embeddings WHERE len(embedding) >= 1
), ex AS (
  SELECT vec_id, label, i - 1 AS dim, x8[i] AS v
  FROM fr, unnest(generate_series(1, len(x8))) AS t(i)
), cents AS (
  SELECT label AS cid, dim,
         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, dim
), vn2 AS (
  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS vn2 FROM ex GROUP BY vec_id
), cn2 AS (
  SELECT cid, CAST(SUM(c * c) AS BIGINT) AS cn2 FROM cents GROUP BY cid
), dots AS (
  SELECT e.vec_id, c.cid, CAST(SUM(e.v * c.c) AS BIGINT) AS dot
  FROM ex e JOIN cents c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cid
), assigned AS (
  SELECT vec_id, cid, vn2,
         CAST(dot AS DOUBLE)
           / (SQRT(CAST(vn2 AS DOUBLE)) * SQRT(CAST(cn2 AS DOUBLE)))
           AS cos_c
  FROM (
    SELECT d.vec_id, d.cid, v.vn2, d.dot, n.cn2,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY v.vn2 - 2 * d.dot + n.cn2, d.cid)
             AS rn
    FROM dots d JOIN vn2 v USING (vec_id) JOIN cn2 n USING (cid)
  ) WHERE rn = 1
), en AS (
  SELECT a.vec_id, a.cid, a.vn2, a.cos_c, f.x8
  FROM assigned a JOIN fr f USING (vec_id)
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cos_c AS a_cc,
         b.cos_c AS b_cc,
         CAST(CAST(list_sum(list_transform(list_zip(a.x8, b.x8),
                                           x -> x[1] * x[2])) AS BIGINT)
              AS DOUBLE)
           / (SQRT(CAST(a.vn2 AS DOUBLE)) * SQRT(CAST(b.vn2 AS DOUBLE)))
           AS cos_pair
  FROM en a JOIN en b ON a.cid = b.cid AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT CASE WHEN a_cc > b_cc
                         OR (a_cc = b_cc AND a_id > b_id)
                       THEN a_id ELSE b_id END AS vec_id
  FROM pairs WHERE cos_pair >= {SEMDEDUP_THRESHOLD}
)
SELECT s.vec_id, s.cid, ROUND(s.cos_c, 6) AS cos_to_centroid,
       d.vec_id IS NULL AS is_kept
FROM assigned s LEFT JOIN dropped d USING (vec_id)
""",
    "sim_topk_cosine": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {N_QUERY}
), scored AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(list_zip(q.qe, c.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.qe,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {TOP_K}
""",
    # the exact columns replay the sim_topk_cosine core; the live-fit
    # recall flag is asserted as literal 1 (the contract pin)
    "sim_ivf_recall_contract": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {N_QUERY}
), scored AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(list_zip(q.qe, c.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.qe,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id,
       COUNT(*) AS k_exact,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank)
         AS exact_ids,
       1 AS recall_ge_min
FROM ranked WHERE rank <= {TOP_K}
GROUP BY query_id
""",
}


def _sql_lsh_planes(bits: int = BITS_PER_TABLE) -> str:
    """The sha256-derived ±1 hyperplanes as a VALUES relation —
    the SAME literals the Spark plan embeds, so both engines bucket
    with identical geometry. bits selects the plane set: 4/table for
    sim_ann_lsh, NEAR_DUP_BITS for sim_near_dup_pairs."""
    rows = []
    for t in range(N_TABLES):
        for p in range(bits):
            w = ", ".join(str(x) for x in _plane_weights(t, p, EMBED_DIM))
            rows.append(f"({t}, {p}, [{w}]::DOUBLE[])")
    return ",\n    ".join(rows)


# sim_ann_lsh oracle: expressible because every piece is deterministic —
# the planes are sha256-derived literals, bucketing is sign(dot) and the
# scoring is the proven sequential-fold cosine. The one cross-engine
# subtlety is summation ORDER inside the projection dot (numpy matmul is
# pairwise, DuckDB's list_sum is sequential): a sign could only diverge
# if |projection| were within float-error of zero. The fixtures clear
# that by eight orders of magnitude (min |X@W| = 1.87e-05 across all
# three SFs vs ~1e-13 worst-case order deviation) and
# tests/test_similarity.py pins the margin so a regenerated fixture that
# ever lands near zero fails loudly instead of flipping a bucket
# silently.
ORACLE["sim_ann_lsh"] = f"""
WITH planes(tbl, p, w) AS (
  VALUES
    {_sql_lsh_planes()}
), cb AS (
  SELECT e.vec_id, pl.tbl,
         CAST(SUM(CASE WHEN list_sum(list_transform(
                list_zip(e.embedding, pl.w),
                x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
              THEN (1 << pl.p) ELSE 0 END) AS INT) AS bucket
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.tbl
), qb AS (
  SELECT vec_id AS query_id, tbl, bucket FROM cb
  WHERE vec_id < {N_QUERY}
), cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM cb JOIN qb USING (tbl, bucket)
  WHERE cb.vec_id != qb.query_id
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         list_sum(list_transform(list_zip(q.embedding, c.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.vec_id
), ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {TOP_K}
"""

# sim_ivf_topk_frozen oracle: the semdedup assignment CTEs (integer-
# frozen vectors, label-prototype centroids, exact BIGINT distance
# argmin) feeding the ann_lsh ranking tail. Corpus vectors live in
# their ONE nearest cell (rn = 1), queries probe their IVF_PROBES
# nearest cells; a (query, vec) pair can match at most once (one cell
# per corpus vec), mirroring ivf_topk's no-distinct reasoning. All
# dot products / norms are exact integers in float64, so the
# sequential-fold cosine is bit-identical across engines.
ORACLE["sim_ivf_topk_frozen"] = f"""
WITH fr AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {PROTO_SCALE}) AS BIGINT))
           AS x8
  FROM embeddings WHERE len(embedding) >= 1
), ex AS (
  SELECT vec_id, label, i - 1 AS dim, x8[i] AS v
  FROM fr, unnest(generate_series(1, len(x8))) AS t(i)
), cents AS (
  SELECT label AS cid, dim,
         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, dim
), vn2 AS (
  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS vn2 FROM ex GROUP BY vec_id
), cn2 AS (
  SELECT cid, CAST(SUM(c * c) AS BIGINT) AS cn2 FROM cents GROUP BY cid
), dots AS (
  SELECT e.vec_id, c.cid, CAST(SUM(e.v * c.c) AS BIGINT) AS dot
  FROM ex e JOIN cents c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cid
), ranked_cells AS (
  SELECT d.vec_id, d.cid,
         ROW_NUMBER() OVER (PARTITION BY d.vec_id
                            ORDER BY v.vn2 - 2 * d.dot + n.cn2, d.cid)
           AS rn
  FROM dots d JOIN vn2 v USING (vec_id) JOIN cn2 n USING (cid)
), corpus_cell AS (
  SELECT vec_id, cid FROM ranked_cells WHERE rn = 1
), query_cells AS (
  SELECT vec_id AS query_id, cid FROM ranked_cells
  WHERE rn <= {IVF_PROBES} AND vec_id < {N_QUERY}
), scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(CAST(list_sum(list_transform(list_zip(fq.x8, fc.x8),
                                           x -> x[1] * x[2])) AS BIGINT)
              AS DOUBLE)
           / (SQRT(CAST(vq.vn2 AS DOUBLE)) * SQRT(CAST(vc.vn2 AS DOUBLE)))
           AS cos
  FROM query_cells q
  JOIN corpus_cell c USING (cid)
  JOIN fr fq ON fq.vec_id = q.query_id
  JOIN fr fc ON fc.vec_id = c.vec_id
  JOIN vn2 vq ON vq.vec_id = q.query_id
  JOIN vn2 vc ON vc.vec_id = c.vec_id
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {TOP_K}
"""

# sim_ivf_topk (graduated r15): the frozen twin's exact per-query
# top-k id list hashes; the live-vs-frozen overlap flag is asserted
# as literal 1. Generated by WRAPPING the frozen oracle so the two
# can never drift apart.
ORACLE["sim_ivf_topk"] = f"""
WITH base AS ({ORACLE["sim_ivf_topk_frozen"]})
SELECT query_id, COUNT(*) AS k_frozen,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank)
         AS frozen_ids,
       1 AS live_overlap_ge_min
FROM base GROUP BY query_id
"""

# sim_semdedup_kmeans (graduated r15): frozen label-prototype
# SemDeDup aggregate evidence hashes (same wrapping discipline —
# DuckDB recomputes through the proven sim_semdedup CTEs); the live
# k-means agreement/sanity flags are asserted as literal 1.
ORACLE["sim_semdedup_kmeans"] = f"""
WITH base AS ({ORACLE["sim_semdedup"]})
SELECT COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept_frozen,
       CAST(SUM(CASE WHEN is_kept THEN vec_id ELSE 0 END) AS BIGINT)
         AS kept_frozen_idsum,
       1 AS live_agree_ge_min,
       1 AS live_kept_in_bounds
FROM base
"""


def _sql_pca_proj() -> str:
    """The frozen PCA basis rendered as DuckDB BIGINT[] literals — the
    SAME integers the Spark plan embeds, one exact fold per component
    (the _sql_lsh_planes discipline applied to the PCA artifact)."""
    cols = []
    for k, comp in enumerate(PCA_FROZEN_COMPONENTS):
        arr = "[" + ", ".join(str(int(c)) for c in comp) + "]::BIGINT[]"
        cols.append(
            f"CAST(CAST(list_sum(list_transform(list_zip(x8,\n"
            f"           {arr}),\n"
            f"           p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)"
            f" / 1e12 AS p{k}")
    return ",\n       ".join(cols)


# embed_pca_frozen oracle: integer-frozen vectors (the semdedup freeze)
# dotted against the frozen component literals — every sum is exact in
# BIGINT and in float64, the one division per cell is a single IEEE op,
# so the doubles hash bit-identically across engines.
ORACLE["embed_pca_frozen"] = f"""
WITH x AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(ROUND(CAST(v AS DOUBLE) * {PROTO_SCALE}) AS BIGINT))
           AS x8
  FROM embeddings WHERE len(embedding) >= 1
)
SELECT vec_id,
       {_sql_pca_proj()}
FROM x
"""

# sim_near_dup_pairs oracle (r11): the sim_ann_lsh recipe over the
# 8-bit-per-table plane set — bucket by sign(dot) against the same
# sha256-derived literals, self-join bucket-mates, dedup pairs on bare
# ids, exact sequential-fold cosine >= threshold. The sign-margin pin
# in tests/test_similarity.py covers this wider plane set too (it pins
# the (t, p<8) superset), so cross-engine bucket agreement carries the
# same evidence as the ann twin.
ORACLE["sim_near_dup_pairs"] = f"""
WITH planes(tbl, p, w) AS (
  VALUES
    {_sql_lsh_planes(NEAR_DUP_BITS)}
), cb AS (
  SELECT e.vec_id, pl.tbl,
         CAST(SUM(CASE WHEN list_sum(list_transform(
                list_zip(e.embedding, pl.w),
                x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
              THEN (1 << pl.p) ELSE 0 END) AS INT) AS bucket
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.tbl
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cb a JOIN cb b USING (tbl, bucket)
  WHERE a.vec_id < b.vec_id
), scored AS (
  SELECT p.vec_a, p.vec_b,
         list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(ea.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(eb.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b
)
SELECT vec_a, vec_b, cos,
       CAST(cos >= {NEAR_DUP_THRESHOLD} AS INT) AS is_near_dup
FROM scored
"""
