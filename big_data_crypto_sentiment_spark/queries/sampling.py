"""Deterministic sampling & splitting — training-data pipeline operators.

A 100 TB corpus pipeline samples constantly (dev subsets, ablations,
eval holdouts, mixture weighting), and `rand()`-based sampling is
useless there: not reproducible across retries, not stable as the
corpus grows, not joinable across tables. The standard fix is
HASH-based sampling — a row is in the sample iff a hash of its stable
key falls under a threshold. Every operator here is a pure per-row
filter or a bounded per-stratum selection:

  * sample_hash          — fixed-rate Bernoulli sample, zero shuffle,
                           embarrassingly parallel, stable under
                           corpus growth (a sampled row stays sampled).
  * sample_stratified    — exact top-K per stratum by hash order (the
                           deterministic analog of per-class quota
                           sampling). One window sort PER STRATUM —
                           fine for bounded strata (sources, langs);
                           for unbounded strata at scale, switch to
                           the two-pass rate form: per-stratum rate =
                           quota / count (broadcast), then the same
                           hash filter as sample_hash.
  * split_train_val_test — hash-bucket split (80/10/10): leakage-free
                           (a doc's split never depends on other rows)
                           and identical on every engine computing md5.
                           Registered merged with sample_hash as ONE
                           scan (sample_and_split).
  * mixture_downsample   — per-source caps rebalancing the corpus mix
                           via broadcast integer thresholds.

The hash primitive is the repo's portable 60-bit md5 prefix (same
construction as queries/dedup.py minhash): exact in BIGINT on both
Spark and DuckDB, so every query is value-hash oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import literal_map, session_artifact, table, word_2grams

SAMPLE_MOD = 1_000_000
SAMPLE_RATE_PPM = 200_000      # 20% dev-subset sample
STRATUM_QUOTA = 5              # docs kept per source
SPLIT_BUCKETS = (80, 90)       # <80 train, <90 val, else test


def _hash_bucket(col, mod: int):
    """Portable uniform bucket in [0, mod): 60-bit md5 prefix of the
    stringified key, mod'd. Exact integer math on both engines."""
    hx = F.md5(col.cast("string"))
    return F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % mod


def _sql_hash_bucket(expr: str, mod: int) -> str:
    from .dedup import _sql_hex2int
    hx = f"substring(md5(CAST(({expr}) AS VARCHAR)), 1, 15)"
    return f"({_sql_hex2int(hx)} % {mod})"


def sample_hash(df: DataFrame, key: str, rate_ppm: int,
                mod: int = SAMPLE_MOD) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key hashes under
    rate_ppm/mod. Pure map-side filter — no shuffle, no state."""
    return df.filter(_hash_bucket(F.col(key), mod) < rate_ppm)


def sample_stratified(df: DataFrame, stratum: str, key: str,
                      quota: int) -> DataFrame:
    """Exact quota per stratum, deterministically: rank rows inside each
    stratum by (hash, key) — the key tiebreak makes rank total — and
    keep the first `quota`. Adds `sample_rank` (1-based)."""
    hb = _hash_bucket(F.col(key), SAMPLE_MOD).alias("hb")
    w = Window.partitionBy(stratum).orderBy("hb", key)
    return (df.select("*", hb)
              .withColumn("sample_rank", F.row_number().over(w))
              .filter(F.col("sample_rank") <= quota)
              .drop("hb"))


def split_train_val_test(df: DataFrame, key: str,
                         buckets: tuple[int, int] = SPLIT_BUCKETS) -> DataFrame:
    """Adds a `split` column from a 100-way hash bucket of the key."""
    b = _hash_bucket(F.col(key), 100)
    return df.withColumn(
        "split",
        F.when(b < buckets[0], F.lit("train"))
         .when(b < buckets[1], F.lit("val"))
         .otherwise(F.lit("test")))


def mixture_downsample(df: DataFrame, stratum: str, key: str,
                       mod: int = SAMPLE_MOD) -> DataFrame:
    """Rebalance a skewed source mixture by capping every stratum at an
    expected total//(2·n_strata) rows — the corpus-mixing step of a
    training pipeline (downweight over-represented sources), made
    engine-exact by keeping ALL threshold math in integers:
    thr_s = min(mod, cap·mod // n_s), keep iff hash(key) < thr_s.

    Plan shape at scale: one partial-agg count per stratum, a two-row
    reduce, a BROADCAST join of (stratum → thr) back onto the corpus,
    then a pure map-side hash filter — the corpus itself never
    shuffles."""
    counts = df.groupBy(stratum).agg(F.count("*").alias("n_s"))
    stats = counts.agg(F.sum("n_s").alias("total"),
                       F.count("*").alias("n_strata"))
    caps = (counts.crossJoin(F.broadcast(stats))
                  .select(stratum,
                          F.least(
                              F.lit(mod).cast("long"),
                              F.expr(f"(total DIV (2 * n_strata)) * {mod} "
                                     "DIV n_s")).alias("thr")))
    return (df.join(F.broadcast(caps), stratum)
              .filter(_hash_bucket(F.col(key), mod) < F.col("thr"))
              .drop("thr"))


def q_sample_and_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli membership + 80/10/10 split in ONE corpus scan (each is
    a pure per-row hash; computing them in two passes would double-read
    the table for no reason). O(input) output, unsorted."""
    d = table(spark, sf_dir, "documents")
    in_sample = (_hash_bucket(F.col("doc_id"), SAMPLE_MOD)
                 < SAMPLE_RATE_PPM).cast("int")
    return (split_train_val_test(d, "doc_id")
            .select("doc_id", "lang", "source", "n_chars",
                    in_sample.alias("in_sample"), "split"))


# --- weighted sampling: keep probability scales with doc length.
#     The "upweight long documents" curation knob, kept engine-exact by
#     pure INTEGER math: tier = min(n_chars DIV 150, 3); keep iff
#     hash(doc_id) < BASE_PPM·(tier+1). Same zero-shuffle map-side
#     filter as sample_hash — the weight only changes the threshold. ---
WEIGHT_BASE_PPM = 100_000  # tier 0 keeps 10%, tier 3 keeps 40%
WEIGHT_TIER_CHARS = 150
WEIGHT_MAX_TIER = 3


def q_sample_length_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tier = F.least(F.floor(F.col("n_chars") / WEIGHT_TIER_CHARS),
                   F.lit(WEIGHT_MAX_TIER))
    thr = (WEIGHT_BASE_PPM * (tier + 1)).cast("long")
    return (d.select("doc_id", "lang", "source", "n_chars",
                     tier.cast("int").alias("tier"))
             .filter(_hash_bucket(F.col("doc_id"), SAMPLE_MOD) < thr)
    )  # O(sample): unsorted


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (sample_stratified(d, "source", "doc_id", STRATUM_QUOTA)
            .select("source", "sample_rank", "doc_id", "lang")
            .orderBy("source", "sample_rank"))  # bounded: quota × strata


def q_mixture_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (mixture_downsample(d, "source", "doc_id")
            .select("doc_id", "source", "lang"))  # O(sample): unsorted


# --- temperature-based mixture sampling (the multilingual-training
#     reweighting: sampled counts ∝ n_s^α, α < 1 flattens the source
#     distribution — XLM-R / mT5 style). Per-source keep threshold
#     thr_s = mod · (T · p_s) / n_s with p_s = n_s^α / Σ n_t^α and
#     budget T = total/2 — computed DRIVER-SIDE over the bounded
#     per-source counts (|sources| rows), then applied as a zero-
#     shuffle map-side hash filter via a literal map (the corpus never
#     shuffles; same scale shape as mixture_downsample's caps, minus
#     its broadcast join).
#     Float portability: pow() lives driver-side in Python (glibc libm,
#     same as the DuckDB twin — the JVM's Math.pow is the odd one out,
#     so it is deliberately NOT used); n_s^α is frozen to INTEGER 1e-8
#     units before the order-free integer Σ, and the remaining
#     double ops follow one shared parenthesization. ---
TEMP_ALPHA = 0.7
_PW_SCALE = 100_000_000


def temperature_thresholds(df: DataFrame, stratum: str,
                           alpha: float = TEMP_ALPHA,
                           mod: int = SAMPLE_MOD) -> dict[str, int]:
    """stratum -> integer hash threshold implementing n^α sampling."""
    import math
    rows = df.groupBy(stratum).agg(F.count("*").alias("n_s")).collect()
    total = sum(r.n_s for r in rows)
    pw8 = {r[0]: round(math.pow(r.n_s, alpha) * _PW_SCALE) for r in rows}
    sum_pw8 = sum(pw8.values())
    n_s = {r[0]: r.n_s for r in rows}
    return {s: min(mod, math.floor(
                mod * ((total / 2.0) * pw8[s] / sum_pw8) / n_s[s]))
            for s in pw8}


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    thr = temperature_thresholds(d, "source")
    tmap = literal_map(thr)
    return (d.filter(_hash_bucket(F.col("doc_id"), SAMPLE_MOD)
                     < F.element_at(tmap, F.col("source")))
             .select("doc_id", "source", "lang"))  # O(sample): unsorted


# --- weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006
#     "A-ES": each row draws key = ln(u)/w with u ~ Uniform(0,1); the
#     k largest keys are an exact weight-proportional sample without
#     replacement). Derandomized via the portable doc_id hash (the DSIR
#     Gumbel precedent: same 2^20 grid, identical ln expression on both
#     engines), so the drawn sample is reproducible and engine-equal.
#     ONE zero-shuffle per-row key computation + a bounded global top-k
#     (TakeOrderedAndProject) — the scale shape for "sample k docs
#     ∝ length" without a full sort or any per-stratum state. ---
AES_K = 100


def q_sample_weighted_ak(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents") \
        .filter(F.col("n_chars") > 0)
    u = ((_hash_bucket(F.col("doc_id"), 1 << 20).cast("double")
          + F.lit(0.5)) / F.lit(float(1 << 20)))
    key = F.log(u) / F.col("n_chars")
    return (d.select("doc_id", "source", "n_chars",
                     key.alias("_k"))
             .orderBy(F.desc("_k"), "doc_id").limit(AES_K)
             .select("doc_id", "source", "n_chars",
                     F.round("_k", 8).alias("es_key")))  # bounded top-k


# --- DSIR importance resampling (Xie et al. 2023, "Data Selection for
#     Language Models via Importance Resampling") ---
# Select raw-corpus docs whose hashed-n-gram distribution looks like a
# TARGET corpus: fit two add-one-smoothed multinomials over a B-bucket
# hashed (unigram + bigram) feature space — target vs raw — and weight
# each raw doc by its log importance ratio Σ_f count_f·(ln p_t(f) −
# ln p_r(f)); Gumbel-perturbed top-k then draws the sample ∝ weight
# (the paper's resampling step, derandomized here via the portable
# doc_id hash so both engines draw the same docs).
#
# Scale shape: feature counting is ONE explode + partial-combined hash
# agg whose key cardinality is B (bounded, tiny); the fitted model is a
# B-entry integer-nat driver artifact (unigram_model precedent); scoring
# is a zero-shuffle per-row fold over a literal map; selection is a
# bounded global top-k (TakeOrderedAndProject, never a full sort). The
# fixture target is a deterministic hash slice of the corpus (decontam
# precedent) — production passes the real target table via `target`.
#
# Float portability: per-bucket Δlp is a driver-side INTEGER in 1e-8
# nats, so per-doc log-weights are exact integer sums; the only float
# ops are the final /1e8 and the Gumbel −ln(−ln(u)) on the shared hash
# uniform — identical expression both engines, round(6) on output.
DSIR_BUCKETS = 512
DSIR_TGT_PCT = 5          # fixture stand-in target: 5% hash slice
DSIR_SELECT_K = 100
_NAT_SCALE = 100_000_000  # integer 1e-8 nats (unigram_model precedent)
_GUMBEL_MOD = 1 << 20


def _feature_buckets(words_col):
    """array<int> of hashed unigram + bigram feature buckets over the
    `_w` words column; the bigrams are word_2grams, which needs no
    guard for 1-word docs (no sequence(), so no descending-range
    trap)."""
    uni = F.transform(words_col,
                      lambda w: _hash_bucket(w, DSIR_BUCKETS).cast("int"))
    bi = F.transform(word_2grams(),
                     lambda g: _hash_bucket(g, DSIR_BUCKETS).cast("int"))
    return F.concat(uni, bi)


def _dsir_base(docs: DataFrame, is_target, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(id, _is_t, _b): the tokenized + md5-hashed feature-bucket
    projection BOTH the model fit and the scoring pass consume. The
    per-token md5s (one per unigram + one per bigram) are the dominant
    per-row cost of each pass, so the registered entry computes this
    once and persists it (guide §1.2/§2.3 — don't pay the expensive
    per-row work twice); the values are unchanged, only shared."""
    return (docs.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col), is_target.alias("_is_t"),
                        F.split(F.col(text_col), " ").alias("_w"))
                .select(id_col, "_is_t",
                        _feature_buckets(F.col("_w")).alias("_b")))


def dsir_model(docs: DataFrame, is_target, text_col: str = "text",
               base: DataFrame | None = None):
    """bucket -> Δlp8 dict covering ALL B buckets: integer 1e-8-nat
    ln p_target − ln p_raw under add-one smoothing, fit from one
    explode + hash agg (key cardinality = B)."""
    import math
    if base is None:
        base = _dsir_base(docs, is_target, text_col)
    cnt = (base.select(F.col("_is_t").alias("is_t"),
                       F.explode(F.col("_b")).alias("b"))
               .groupBy("b")
               .agg(F.sum(F.when(F.col("is_t"), 1).otherwise(0))
                     .alias("ct"),
                    F.sum(F.when(F.col("is_t"), 0).otherwise(1))
                     .alias("cr"))
               .collect())
    ct = {r.b: r.ct for r in cnt}
    cr = {r.b: r.cr for r in cnt}
    tt, tr = sum(ct.values()), sum(cr.values())
    dt, dr = float(tt + DSIR_BUCKETS), float(tr + DSIR_BUCKETS)
    return {b: round(math.log((ct.get(b, 0) + 1) / dt) * _NAT_SCALE)
               - round(math.log((cr.get(b, 0) + 1) / dr) * _NAT_SCALE)
            for b in range(DSIR_BUCKETS)}


def dsir_select(docs: DataFrame, diff8: dict[int, int],
                is_target, k: int = DSIR_SELECT_K,
                id_col: str = "doc_id",
                text_col: str = "text",
                base: DataFrame | None = None) -> DataFrame:
    """Top-k raw docs by Gumbel-perturbed importance weight:
    (doc_id, logw8, score). Zero-shuffle scoring; bounded top-k."""
    dmap = literal_map(diff8)
    lw8 = F.aggregate(
        F.transform(F.col("_b"), lambda b: F.element_at(dmap, b)),
        F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
    u = ((_hash_bucket(F.col(id_col), _GUMBEL_MOD).cast("double")
          + F.lit(0.5)) / F.lit(float(_GUMBEL_MOD)))
    gumbel = -F.log(-F.log(u))
    score = F.col("logw8").cast("double") / F.lit(float(_NAT_SCALE)) \
        + gumbel
    if base is None:
        base = _dsir_base(docs, is_target, text_col, id_col)
    return (base.filter(~F.col("_is_t"))
                .select(F.col(id_col), lw8.alias("logw8"))
                .select(id_col, "logw8", score.alias("_score"))
                .orderBy(F.desc("_score"), id_col).limit(k)
                .select(id_col, "logw8",
                        F.round("_score", 6).alias("score")))


# The persisted feature-bucket projection is shared by the model fit
# and the scoring pass of the registered entry: one session artifact
# per (appId, sf_dir).
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_t = _hash_bucket(F.col("doc_id"), 100) < DSIR_TGT_PCT
    base = session_artifact(spark, ("sampling.dsir_base", sf_dir),
                            lambda: _dsir_base(d, is_t).persist())
    diff8 = dsir_model(d, is_t, base=base)
    return dsir_select(d, diff8, is_t, base=base)  # bounded: top-k


# --- deterministic global training-data shuffle (the write-side step
#     every pretraining pipeline ends with: emit the final mix in
#     pseudo-random order WITHOUT a global sort). Each doc gets a
#     60-bit portable hash; shard = hash mod N_SHARDS, position =
#     rank of the hash within the shard. The only shuffle is keyed by
#     shard and each shard sorts locally — at 100 TB you size N_SHARDS
#     so a shard fits an executor (e.g. 100k shards ≈ 1 GB each), which
#     is exactly how sharded .jsonl/tfrecord training dumps are laid
#     out; no stage ever sees a global order. Reproducible: same corpus
#     → same permutation, on both engines. ---
N_SHARDS = 32


def shuffle_shards(df: DataFrame, key: str,
                   n_shards: int = N_SHARDS) -> DataFrame:
    from pyspark.sql import Window
    h = _hash_bucket(F.col(key), 1 << 60)
    w = Window.partitionBy("shard").orderBy("_pos_key", key)
    return (df.select(F.col(key), h.alias("_pos_key"),
                      (h % n_shards).alias("shard"))
              .select(key, "shard",
                      F.row_number().over(w).cast("long").alias("position")))


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, "doc_id")  # O(input): unsorted


QUERIES = {
    "shuffle_shards": q_shuffle_shards,
    "sample_and_split": q_sample_and_split,
    "sample_stratified": q_sample_stratified,
    "sample_length_weighted": q_sample_length_weighted,
    "mixture_downsample": q_mixture_downsample,
    "sample_temperature": q_sample_temperature,
    "sample_weighted_ak": q_sample_weighted_ak,
    "dsir_select": q_dsir_select,
}

_HB_DOC = _sql_hash_bucket("doc_id", SAMPLE_MOD)
_HB_100 = _sql_hash_bucket("doc_id", 100)


def _oracle_dsir() -> str:
    hb_w = _sql_hash_bucket("w", DSIR_BUCKETS)
    hb_g = _sql_hash_bucket("g", DSIR_BUCKETS)
    hb_u = _sql_hash_bucket("doc_id", _GUMBEL_MOD)
    lp = (lambda c, t: f"CAST(ROUND(LN(({c} + 1) / CAST({t} + "
                       f"{DSIR_BUCKETS} AS DOUBLE)) * {_NAT_SCALE}) "
                       f"AS BIGINT)")
    return f"""
WITH docs0 AS (
  SELECT doc_id, text, string_split(text, ' ') AS words
  FROM documents WHERE text IS NOT NULL
), feats AS (
  SELECT doc_id, {hb_w} AS b FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs0)
  UNION ALL
  SELECT doc_id, {hb_g} AS b FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(words)),
             i -> words[i] || ' ' || words[i + 1])) AS g FROM docs0)
), cnt AS (
  SELECT b,
         SUM(CASE WHEN {_HB_100} < {DSIR_TGT_PCT} THEN 1 ELSE 0 END)
           AS ct,
         SUM(CASE WHEN {_HB_100} < {DSIR_TGT_PCT} THEN 0 ELSE 1 END)
           AS cr
  FROM feats GROUP BY b
), tot AS (
  SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt
), diff AS (
  SELECT b, {lp('ct', 'tt')} - {lp('cr', 'tr')} AS d8
  FROM cnt CROSS JOIN tot
), lw AS (
  -- inner join: every bucket of a scored doc appeared in feats, hence
  -- in cnt/diff (the Spark side's all-B map covers unseen buckets for
  -- generality; here they cannot occur)
  SELECT f.doc_id, CAST(SUM(d.d8) AS BIGINT) AS logw8
  FROM feats f JOIN diff d USING (b)
  WHERE {_HB_100.replace('doc_id', 'f.doc_id')} >= {DSIR_TGT_PCT}
  GROUP BY f.doc_id
), scored AS (
  SELECT doc_id, logw8,
         CAST(logw8 AS DOUBLE) / {float(_NAT_SCALE)}
           + (-LN(-LN(({hb_u} + 0.5) / {float(_GUMBEL_MOD)}))) AS s
  FROM lw
)
SELECT doc_id, logw8, ROUND(s, 6) AS score
FROM scored ORDER BY s DESC, doc_id LIMIT {DSIR_SELECT_K}
"""


_HB_GUMBEL = _sql_hash_bucket("doc_id", 1 << 20)

ORACLE = {
    "shuffle_shards": f"""
WITH k AS (
  SELECT doc_id, {_sql_hash_bucket("doc_id", 1 << 60)} AS pos_key
  FROM documents
)
SELECT doc_id, pos_key % {N_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY pos_key % {N_SHARDS}
                               ORDER BY pos_key, doc_id) AS BIGINT)
         AS position
FROM k
""",
    "sample_weighted_ak": f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         LN(({_HB_GUMBEL} + 0.5) / {float(1 << 20)}) / n_chars AS _k
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, ROUND(_k, 8) AS es_key
FROM keyed ORDER BY _k DESC, doc_id LIMIT {AES_K}
""",
    "sample_temperature": f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1
), stats AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS total FROM counts
), pw AS (
  SELECT source, n_s,
         CAST(ROUND(POWER(n_s, {TEMP_ALPHA}) * {_PW_SCALE}) AS BIGINT)
           AS pw8
  FROM counts
), spw AS (
  SELECT CAST(SUM(pw8) AS BIGINT) AS sum_pw8 FROM pw
), thr AS (
  SELECT source,
         LEAST(CAST({SAMPLE_MOD} AS BIGINT),
               CAST(FLOOR({SAMPLE_MOD} * ((total / 2.0) * pw8 / sum_pw8)
                          / n_s) AS BIGINT)) AS thr
  FROM pw CROSS JOIN stats CROSS JOIN spw
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN thr USING (source)
WHERE {_HB_DOC} < thr.thr
""",
    "dsir_select": _oracle_dsir(),
    "sample_and_split": f"""
SELECT doc_id, lang, source, n_chars,
       CAST({_HB_DOC} < {SAMPLE_RATE_PPM} AS INT) AS in_sample,
       CASE WHEN {_HB_100} < {SPLIT_BUCKETS[0]} THEN 'train'
            WHEN {_HB_100} < {SPLIT_BUCKETS[1]} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    "sample_length_weighted": f"""
SELECT doc_id, lang, source, n_chars,
       CAST(LEAST(n_chars // {WEIGHT_TIER_CHARS}, {WEIGHT_MAX_TIER})
            AS INT) AS tier
FROM documents
WHERE {_HB_DOC} < {WEIGHT_BASE_PPM}
      * (LEAST(n_chars // {WEIGHT_TIER_CHARS}, {WEIGHT_MAX_TIER}) + 1)
""",
    "sample_stratified": f"""
SELECT source, sample_rank, doc_id, lang FROM (
  SELECT source, doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_HB_DOC}, doc_id) AS sample_rank
  FROM documents
) WHERE sample_rank <= {STRATUM_QUOTA}
ORDER BY source, sample_rank
""",
    "mixture_downsample": f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1
), stats AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS total, COUNT(*) AS n_strata FROM counts
), caps AS (
  SELECT source,
         LEAST({SAMPLE_MOD}, (total // (2 * n_strata)) * {SAMPLE_MOD} // n_s)
           AS thr
  FROM counts, stats
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN caps USING (source)
WHERE {_HB_DOC} < thr
""",
}
