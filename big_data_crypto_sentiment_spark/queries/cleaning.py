"""Corpus-cleaning operators for the LLM-training-data pipeline:
benchmark decontamination, repetition filtering, and PII redaction.
No reference twin (the reference pipeline stops at sentiment features);
shapes follow public corpus-curation practice — n-gram overlap
decontamination (GPT-3 appendix C / Dolma), Gopher's repetition rules,
and rule-based PII scrubbing.

  * decontaminate      — flag corpus docs sharing any word N-gram with a
                         held-out benchmark set. The benchmark side is
                         tiny (grams of a ~5% hash-selected slice), so
                         candidates come from a BROADCAST join on the
                         gram string — the corpus is never shuffled on
                         the gram key and no pair explosion exists. At
                         100 TB the benchmark gram set (real eval suites
                         are a few MB of text) still broadcasts.
  * repetition_signals — Gopher-style per-doc repetition metrics
                         (distinct-word ratio, top-word fraction,
                         duplicate-2-gram fraction) as pure per-row
                         array math: ZERO shuffles, embarrassingly
                         parallel. Per-row cost is O(n log n) (sorted
                         run-length scan) — cheaper than both the
                         nested-HOF form (O(distinct·n) interpreted
                         lambdas) and the explode+groupBy alternative,
                         which would shuffle one row per (doc, gram).
  * redact_pii         — regex scrub of emails / phones / IPv4s into
                         typed placeholders, with per-rule hit counts
                         (auditable, like text_c4_filter's per-rule
                         flags). Per-row regexp_replace chain, no
                         shuffle. The fixture corpus contains no PII, so
                         the registered query PLANTS deterministic
                         doc_id-derived PII on both engines first —
                         the redaction logic itself is what's
                         hash-checked; adversarial cases live in pytest.

All regexes are shared Java-regex/RE2 syntax so Spark and the DuckDB
oracle agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import literal_map, session_artifact, table, word_2grams
from .sampling import _hash_bucket, _sql_hash_bucket

NGRAM = 5            # contamination gram width (words)
BENCH_PCT = 5        # % of docs (by doc_id hash) forming the benchmark
TOP_WORD_MAX = 0.20  # Gopher-ish thresholds for the `repetitive` flag
DUP_2GRAM_MAX = 0.10

PAT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PAT_PHONE = r"\b555-[0-9]{4}\b"
PAT_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _is_bench(key_col):
    return _hash_bucket(key_col, 100) < BENCH_PCT


def _word_grams(words_col, n: int):
    """array<string> of word n-grams off a MATERIALIZED words column
    (callers split() in their own projection stage — see decontaminate's
    docstring for why). CALLERS MUST PRE-FILTER on
    `size(split(text,' ')) >= n` — sequence(1, k) turns DESCENDING for
    k < 1, and the explicit cheap filter (mirroring dedup._shingles) is
    deliberate plan hygiene: a `F.when(k >= 1, ...)` guard here made
    Catalyst's InferFiltersFromGenerate synthesize `size(<full gram
    tree>) > 0` predicates that were pushed into the parquet scan BELOW
    the rebalance exchange, evaluating the O(n·gram) construction twice
    per row single-task (observed: decontam_overlap 3.8→8.8 s on the
    r5 driver bench). With the cheap pre-filter and no guard, the only
    scan filter left to push is `size(split(text)) >= n`. A/B note:
    array_join(slice()) per gram measured 2× FASTER than
    indexed-transform + concat with _w[i+j] element gets — non-literal
    GetArrayItem is the slower path."""
    k = F.size(words_col) - (n - 1)
    return F.transform(F.sequence(F.lit(1), k),
                       lambda i: F.array_join(F.slice(words_col, i, n), " "))


def _gram_rows(docs: DataFrame, id_col: str, text_col: str,
               n: int, flag) -> DataFrame:
    """Exploded (id, is_bench, n_grams, gram) rows. Each array gets its
    OWN projection stage (split → grams → size+explode): a single-stage
    form duplicates the gram expression into the Project above the
    Generate, rebuilding the O(n²) array per exploded row — measured
    10× the whole decontam cost at sf0.01. Short docs (< n words)
    produce no grams either way; dropping them FIRST with the cheap
    word-count predicate is what keeps the scan filter cheap (see
    _word_grams)."""
    return (docs
        .filter(F.size(F.split(F.col(text_col), " ")) >= n)
        .select(
        F.col(id_col), flag.alias("is_bench"),
        F.split(F.col(text_col), " ").alias("_w"))
        .select(id_col, "is_bench",
                _word_grams(F.col("_w"), n).alias("grams"))
        .select(id_col, "is_bench",
                F.size("grams").alias("n_grams"),
                # explode_OUTER, deliberately: the pre-filter guarantees
                # >= 1 gram so outer vs inner emit identical rows, and
                # InferFiltersFromGenerate skips outer generates — the
                # inner form re-synthesizes `size(<full gram tree>) > 0`
                # into the scan-stage Filter even without a when-guard
                # (verified on the formatted plan), which is the exact
                # double-evaluation this function exists to avoid.
                F.explode_outer("grams").alias("gram")))


def decontaminate(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = NGRAM,
                  benchmark: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_grams, n_hit, hit_frac) for every corpus doc that
    shares ≥1 word n-gram with the benchmark. Training-set docs that
    hit are what a curation pipeline drops before training.

    Pass `benchmark` as its own DataFrame (same id/text columns) — the
    production shape: eval suites live in their own small table whose
    gram set broadcasts. Without it, a deterministic hash slice of
    `docs` (BENCH_PCT%) stands in as the benchmark and is excluded from
    the corpus side — the fixture shape."""
    if benchmark is not None:
        corpus = _gram_rows(docs, id_col, text_col, n, F.lit(False))
        bench = (_gram_rows(benchmark, id_col, text_col, n, F.lit(True))
                 .select("gram").distinct())
    else:
        # the shared gram scan feeds BOTH the benchmark side and the
        # corpus side — without lineage truncation each branch re-runs
        # the tokenize + shingle explode over the whole corpus. A
        # non-eager localCheckpoint (materialized by the query's own
        # first action) computes it once — the _semdedup_pairs /
        # curate keep_ids discipline (r15).
        grams = _gram_rows(docs, id_col, text_col, n,
                           _is_bench(F.col(id_col))) \
            .localCheckpoint(eager=False)
        bench = grams.filter("is_bench").select("gram").distinct()
        corpus = grams.filter(~F.col("is_bench"))
    return (corpus.join(F.broadcast(bench), "gram")
            .groupBy(id_col, "n_grams")
            .agg(F.count_distinct("gram").alias("n_hit"))
            .select(id_col, "n_grams", "n_hit",
                    F.round(F.col("n_hit") / F.col("n_grams"), 6)
                     .alias("hit_frac")))


def split_words(text_col: str):
    """The `_w` = split(text, ' ') words column that repetition_stages
    and unigram_stages read."""
    return F.split(F.col(text_col), " ").alias("_w")


def repetition_stages():
    """The repetition rule as the columns of three successive projections
    over a materialized `_w` = split(text, ' ') column: the word-2-gram
    array `_g2`; counts over both arrays; then the per-doc metrics and
    the `repetitive` flag, by output name. Callers: repetition_signals, and
    jobs/curate.py, which runs each stage beside unigram_stages' in one
    projection chain.

    Plan hygiene (both measured multiples of repetition_filter's whole
    cost at sf0.1): every array lives in its OWN projection stage so no
    higher-order expression is ever duplicated by a downstream
    reference (Catalyst does not CSE expensive expression trees), and
    the top-word count is an O(n) run-length scan over the sorted array
    rather than the O(distinct·n) nested transform/filter form."""
    top_cnt = F.aggregate(
        F.array_sort(F.col("_w")),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1)
             .otherwise(F.lit(1)).alias("run"),
            F.greatest(acc["best"],
                       F.when(w == acc["prev"], acc["run"] + 1)
                        .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])
    top_frac = F.when(F.col("n_words") > 0,
                      F.col("_top") / F.col("n_words")).otherwise(0.0)
    dup2 = F.when(F.col("_n2") > 0,
                  1.0 - F.col("_nd2") / F.col("_n2")).otherwise(0.0)
    return (
        [word_2grams().alias("_g2")],
        [F.size("_w").alias("n_words"),
         F.size(F.array_distinct("_w")).alias("_nd"),
         top_cnt.alias("_top"),
         F.size("_g2").alias("_n2"),
         F.size(F.array_distinct("_g2")).alias("_nd2")],
        {"distinct_ratio": F.round(F.col("_nd") / F.col("n_words"), 6),
         "top_word_frac": F.round(top_frac, 6),
         "dup_2gram_frac": F.round(dup2, 6),
         "repetitive": ((top_frac > TOP_WORD_MAX)
                        | (dup2 > DUP_2GRAM_MAX)).cast("int")})


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-doc repetition metrics, all computed inside the row (no
    explode, no shuffle): distinct-word ratio, fraction of words that
    are the single most frequent word, and the fraction of word 2-grams
    that are repeats of an earlier 2-gram in the same doc."""
    arrays, counts, metrics = repetition_stages()
    return (docs
            .select(F.col(id_col), split_words(text_col))
            .select(id_col, "_w", *arrays)
            .select(F.col(id_col), *counts)
            .select(F.col(id_col), "n_words",
                    *(c.alias(n) for n, c in metrics.items())))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_emails/n_phones/n_ips counts and a `clean_text` column
    with each PII class replaced by a typed placeholder. Email first:
    its char class overlaps the dotted patterns."""
    t = F.col(text_col)
    clean = F.regexp_replace(t, PAT_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, PAT_IPV4, "<IP>")
    clean = F.regexp_replace(clean, PAT_PHONE, "<PHONE>")
    return df.withColumns({
        "n_emails": F.regexp_count(t, F.lit(PAT_EMAIL)),
        "n_phones": F.regexp_count(t, F.lit(PAT_PHONE)),
        "n_ips": F.regexp_count(t, F.lit(PAT_IPV4)),
        "clean_text": clean,
    })


# --- boilerplate line removal (C4-style) ---
# A "boilerplate" line is one that appears in >= BOILER_MIN_DF distinct
# documents (nav bars, subscribe prompts, footers). Two-phase plan:
#   pass 1: per-doc DISTINCT lines -> explode -> hash-agg line DF ->
#           filter DF >= min_df. Partial (map-side) aggregation combines
#           repeats before the only shuffle, whose key cardinality is
#           |distinct lines| — never a pair join, never O(docs²).
#   pass 2: the hot set is a DRIVER ARTIFACT (boilerplate is by
#           definition high-frequency, so the set is small — same
#           argument as the tokenizer vocab in packing.py); shipped back
#           as an array literal, the strip is a pure per-row
#           filter+array_join: ZERO shuffles over the corpus. The
#           join-based alternative (explode → anti-join → re-agg) would
#           shuffle every surviving line of the corpus — at 100 TB
#           that's the whole dataset through the exchange, twice.
# The hot set is capped at BOILER_MAX_HOT by descending DF (deterministic
# tie-break on the line text); a hit on the cap is surfaced in the
# `hot_truncated` helper return, never silent.
BOILER_MIN_DF = 20
BOILER_MAX_HOT = 1000


def hot_lines(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", min_df: int = BOILER_MIN_DF,
              max_hot: int = BOILER_MAX_HOT) -> tuple[list[str], bool]:
    """(lines appearing in >= min_df distinct docs, truncated?) —
    bounded driver artifact, see module plan note above."""
    rows = (docs.select(F.explode(F.array_distinct(
                F.split(F.col(text_col), "\n"))).alias("line"))
                .groupBy("line").agg(F.count("*").alias("df"))
                .filter(F.col("df") >= min_df)
                .orderBy(F.desc("df"), "line")
                .limit(max_hot + 1)
                .collect())
    truncated = len(rows) > max_hot
    return [r.line for r in rows[:max_hot]], truncated


def strip_boilerplate(docs: DataFrame, hot: list[str],
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, n_lines, n_removed, clean_text) with hot lines dropped —
    per-row array filter against the broadcast-literal hot set, zero
    shuffles (pass 2 of the plan above). NULL-text docs are dropped
    (split(NULL) would otherwise emit a nonsense n_lines=-1 row; the
    oracle's unnest drops them, so match that convention)."""
    docs = docs.filter(F.col(text_col).isNotNull())
    lines = F.split(F.col(text_col), "\n")
    if hot:
        keep = F.filter(lines, lambda l: ~F.array_contains(F.lit(hot), l))
    else:
        keep = lines
    return docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        (F.size(lines) - F.size(keep)).alias("n_removed"),
        F.array_join(keep, "\n").alias("clean_text"))


# --- unigram-LM quality scoring (CCNet-style perplexity filter) ---
# Train add-one-smoothed unigram log-probs over the corpus, score each
# doc by its mean negative log-likelihood (perplexity = exp(avg_nll),
# monotone — the NLL is what a filter thresholds on).
#
# Scale shape: the model is the TOP-K vocabulary with log-probs — a
# driver artifact like the tokenizer vocab (the count agg it's built
# from is one partial-combined hash agg, key cardinality = |vocab|).
# Scoring is then a pure per-row transform over a literal map: the
# corpus is never shuffled and never joined. (The oracle SQL does the
# explode+join form — fine for a correctness twin, wrong at 100 TB.)
#
# Float portability: per-token log-probs are frozen driver-side as
# INTEGER 1e-8 nats (round(ln(p)·1e8)); both engines then do exact
# integer sums — no float accumulation order to disagree on. ~21 bits
# of headroom: |lp8| < 2^35, so 2^18 tokens/doc before overflow risk
# even existed in a long.
UNIGRAM_VOCAB_K = 1000
_LP_SCALE = 100_000_000  # 1e8: lp8 = round(ln(p) * _LP_SCALE)


def unigram_model(docs: DataFrame, text_col: str = "text",
                  vocab_k: int = UNIGRAM_VOCAB_K,
                  cache_key: tuple | None = None):
    """(term -> lp8 dict, oov lp8, truncated?) — add-one smoothing over
    the full-corpus term counts; OOV mass = 1/(total+V+1).

    With a `cache_key` the model is a session artifact: q_unigram_logprob
    and q_bigram_logprob (whose backoff distribution is the SAME model
    over the same corpus) would otherwise each run the count agg + two
    collects."""
    if cache_key is None:
        return _build_unigram(docs, text_col, vocab_k, None)
    return session_artifact(
        docs.sparkSession,
        ("cleaning.unigram", *cache_key, text_col, vocab_k),
        lambda: _build_unigram(docs, text_col, vocab_k, cache_key))


def _build_unigram(docs: DataFrame, text_col: str, vocab_k: int,
                   cache_key: tuple | None):
    import math
    if (cache_key is not None and cache_key[0] == "unigram_docs"
            and text_col == "text"):
        # r16 (guide §1.2): the ("unigram_docs", sf_dir) key marks the
        # standard documents corpus, for which the ctfidf/JS family
        # already builds a persisted (source, term, c) aggregate
        # (text._source_term_counts, |sources|·|vocab| grain). The
        # global term counts are its exact per-term rollup — identical
        # integers (split-on-space tokenization on both paths, NULL
        # text contributes nothing to either, groupBy keeps a NULL
        # source) — so derive cnt from it instead of paying a second
        # tokenize+explode corpus pass; whichever family runs first
        # builds the shared table once per (appId, sf_dir).
        from .text import _source_term_counts
        cnt = (_source_term_counts(docs.sparkSession, cache_key[1])
               .groupBy("term").agg(F.sum("c").alias("c")))
    else:
        cnt = (docs.select(F.explode(F.split(F.col(text_col), " "))
                            .alias("term"))
                   .groupBy("term").agg(F.count("*").alias("c")))
    tot = cnt.agg(F.sum("c").alias("t"), F.count("*").alias("v")).collect()[0]
    top = cnt.orderBy(F.desc("c"), "term").limit(vocab_k + 1).collect()
    denom = tot.t + tot.v + 1
    lp = {r.term: round(math.log((r.c + 1) / denom) * _LP_SCALE)
          for r in top[:vocab_k]}
    oov = round(math.log(1.0 / denom) * _LP_SCALE)
    return lp, oov, len(top) > vocab_k


def unigram_stages(lp: dict[str, int], oov: int):
    """Scoring under the (lp, oov) unigram model as the columns of two
    successive projections over a materialized `_w` = split(text, ' ')
    column: the per-token lp8 array `_lp`, then n_tokens, n_oov and
    avg_nll. Callers: unigram_score, and jobs/curate.py's LM stage."""
    lpmap = literal_map(lp)
    tok_lp = F.transform(
        F.col("_w"),
        lambda w: F.coalesce(F.element_at(lpmap, w), F.lit(oov)))
    sum_lp = F.aggregate(F.col("_lp"), F.lit(0).cast("bigint"),
                         lambda a, x: a + x.cast("bigint"))
    n_oov = F.size(F.filter(
        F.col("_w"), lambda w: F.element_at(lpmap, w).isNull()))
    return (
        [tok_lp.alias("_lp")],
        [F.size("_w").alias("n_tokens"),
         n_oov.alias("n_oov"),
         F.round(-sum_lp.cast("double")
                 / (F.size("_w") * float(_LP_SCALE)), 6).alias("avg_nll")])


def unigram_score(docs: DataFrame, lp: dict[str, int], oov: int,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_oov, avg_nll) — zero-shuffle scoring pass.
    NULL-text docs are dropped (split(NULL) would otherwise emit an
    n_tokens=-1 row with NULL avg_nll; the oracle's unnest drops the
    doc, so match that convention)."""
    arrays, scores = unigram_stages(lp, oov)
    return (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), split_words(text_col))
            .select(id_col, "_w", *arrays)
            .select(F.col(id_col), *scores))


# --- bigram-LM quality scoring: the step up from the unigram filter
#     (interpolated bigram/unigram, CCNet-style). Same architecture:
#     the model is a driver artifact (top-K bigram + top-K unigram
#     log-probs, both from one explode+hash-agg pass each), scoring is
#     a zero-shuffle per-row transform over literal maps, and log-probs
#     are frozen as INTEGER 1e-8 nats so both engines do exact integer
#     sums. P(w2|w1) is backed off to the unigram: a bigram outside the
#     vocab scores lambda-weighted unigram mass only; the interpolation
#     weights are integer tenths so the mixture weight math is exact.
#     Scoring key: avg negative log-likelihood over the doc's bigrams
#     (docs with < 2 tokens are dropped — matching the oracle's unnest
#     convention for empty bigram lists). ---
BIGRAM_VOCAB_K = 2000


def bigram_model(docs: DataFrame, text_col: str = "text",
                 vocab_k: int = BIGRAM_VOCAB_K,
                 cache_key: tuple | None = None):
    """(bigram -> lp8, unigram -> lp8, oov lp8, truncated?) — add-one-
    smoothed conditional bigram log-probs over corpus counts; unigram
    backoff from unigram_model's add-one distribution.

    With a `cache_key` the model is a session artifact, like the
    unigram one: without it every call re-ran the bigram count agg +
    two collects even when the inner unigram model hit (measured
    ~2.3 s per re-entry at sf0.1 — paid by every repeat
    q_bigram_logprob invocation: bench + the per-pytest
    deferred-parity re-run + each check.py sweep)."""
    if cache_key is None:
        return _build_bigram(docs, text_col, vocab_k, None)
    return session_artifact(
        docs.sparkSession,
        ("cleaning.bigram", *cache_key, text_col, vocab_k),
        lambda: _build_bigram(docs, text_col, vocab_k, cache_key))


def _build_bigram(docs: DataFrame, text_col: str, vocab_k: int,
                  cache_key: tuple | None):
    import math
    uni_lp, uni_oov, _ = unigram_model(docs, text_col, UNIGRAM_VOCAB_K,
                                       cache_key=cache_key)
    bcnt = (docs.filter(F.col(text_col).isNotNull())
                .filter(F.size(F.split(F.col(text_col), " ")) >= 2)
                .select(split_words(text_col))
                .select(F.explode_outer(word_2grams()).alias("bg"))
                .groupBy("bg").agg(F.count("*").alias("c")))
    tot = bcnt.agg(F.sum("c").alias("t"), F.count("*").alias("v")).first()
    top = bcnt.orderBy(F.desc("c"), "bg").limit(vocab_k + 1).collect()
    denom = tot.t + tot.v + 1
    blp = {r.bg: round(math.log((r.c + 1) / denom) * _LP_SCALE)
           for r in top[:vocab_k]}
    return blp, uni_lp, uni_oov, len(top) > vocab_k


# interpolation weights in integer tenths: 0.7·bigram + 0.3·unigram.
# lp8 values are integers, so the mixture (7·blp8 + 3·ulp8)/10 rounds
# identically on both engines when computed as integer DIV after the
# multiply — we keep it simpler still: score = 7·blp8 + 3·ulp8 in 1e-9
# nat units (no division at all; the avg_nll divides once at the end).
# An UNSEEN bigram backs off to its second word's unigram TIMES the
# stupid-backoff alpha = 0.4 (Brants et al. 2007): without the penalty,
# backing off to a common unigram can outscore a genuinely attested
# bigram (observed on the pytest corpus), inverting the
# fluent-vs-shuffled ordering the filter exists to produce.
BIGRAM_W10 = 7
BACKOFF_LP8 = -91629073  # round(ln(0.4) * 1e8)


def bigram_score(docs: DataFrame, blp: dict[str, int],
                 ulp: dict[str, int], uoov: int,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, n_oov_bigrams, avg_nll) — zero-shuffle scoring;
    avg_nll in nats of the 0.7/0.3 interpolated model."""
    bmap = literal_map(blp)
    umap = literal_map(ulp)
    # per-bigram mixed score in 1e-9 nats: 7·blp8(bigram) + 3·ulp8(w2);
    # missing bigram -> stupid backoff: alpha·P_uni(w2), i.e.
    # blp8 := ulp8(w2) + ln(0.4)·1e8
    def mixed(bg):
        w2 = F.element_at(F.split(bg, " "), 2)
        u = F.coalesce(F.element_at(umap, w2), F.lit(uoov)).cast("bigint")
        b = F.coalesce(F.element_at(bmap, bg),
                       u + F.lit(BACKOFF_LP8)).cast("bigint")
        return BIGRAM_W10 * b + (10 - BIGRAM_W10) * u
    tok = F.transform(F.col("_bg"), mixed)
    n_oov = F.size(F.filter(F.col("_bg"),
                            lambda g: F.element_at(bmap, g).isNull()))
    sum_lp = F.aggregate(F.col("_lp"), F.lit(0).cast("bigint"),
                         lambda a, x: a + x)
    return (docs.filter(F.col(text_col).isNotNull())
            .filter(F.size(F.split(F.col(text_col), " ")) >= 2)
            .select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
            .select(id_col, "_w", word_2grams().alias("_bg"))
            .select(id_col, "_bg", tok.alias("_lp"))
            .select(F.col(id_col),
                    F.size("_bg").alias("n_bigrams"),
                    n_oov.alias("n_oov_bigrams"),
                    F.round(-sum_lp.cast("double")
                            / (F.size("_bg") * 10.0 * float(_LP_SCALE)), 6)
                     .alias("avg_nll")))


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "text")
    blp, ulp, uoov, _ = bigram_model(d, cache_key=("unigram_docs", sf_dir))
    return bigram_score(d, blp, ulp, uoov)  # O(input): unsorted


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return decontaminate(d)  # O(contaminated docs): unsorted


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return repetition_signals(d)  # O(input): unsorted


# fixtures are PII-free, so plant deterministic doc_id-derived PII on
# both engines; the operator under test is the redaction itself
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")).select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    planted = F.concat(
        F.col("text"), F.lit(" reach user"), sid,
        F.lit("@mail.example.com or 555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"))
    return (redact_pii(d.select("doc_id", planted.alias("text")))
            .select("doc_id", "n_emails", "n_phones", "n_ips",
                    "clean_text"))  # O(input): unsorted


# fixture docs are single-line, so (pii_redact precedent) plant
# deterministic boilerplate on both engines: a per-source header
# (DF = docs-per-source >= 25 at every sf) and a global footer; the
# strip logic itself is what's hash-checked. Adversarial cases
# (dup lines in one doc, all-boilerplate docs) live in pytest.
_BP_HEADER = ("subscribe to ", " newsletter")  # wraps `source`
_BP_FOOTER = "unsubscribe at any time"


def _planted_boilerplate(docs: DataFrame) -> DataFrame:
    planted = F.concat(
        F.lit(_BP_HEADER[0]), F.col("source"), F.lit(_BP_HEADER[1]),
        F.lit("\n"), F.col("text"), F.lit("\n"), F.lit(_BP_FOOTER))
    return docs.select("doc_id", planted.alias("text"))


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = _planted_boilerplate(
        rebalance_scan(table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "text"))
    hot, _ = hot_lines(d)
    return strip_boilerplate(d, hot)  # O(input): unsorted


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "text")
    lp, oov, _ = unigram_model(d, cache_key=("unigram_docs", sf_dir))
    return unigram_score(d, lp, oov)  # O(input): unsorted


QUERIES = {
    "bigram_logprob": q_bigram_logprob,
    "decontam_overlap": q_decontam_overlap,
    "repetition_filter": q_repetition_filter,
    "pii_redact": q_pii_redact,
    "boilerplate_strip": q_boilerplate_strip,
    "unigram_logprob": q_unigram_logprob,
}

_SQL_BENCH = _sql_hash_bucket("doc_id", 100) + f" < {BENCH_PCT}"
# DuckDB list slice l[a:b] is 1-based inclusive; range(a,b) excludes b
_SQL_GRAMS = (f"list_transform(range(1, len(words) - {NGRAM - 2}), "
              f"i -> array_to_string(words[i:i+{NGRAM - 1}], ' '))")
_SQL_G2 = ("list_transform(range(1, len(words)), "
           "i -> array_to_string(words[i:i+1], ' '))")

ORACLE = {
    "bigram_logprob": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words)),
           i -> words[i] || ' ' || words[i + 1])) AS bg
  FROM w
), bcnt AS (
  SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg
), btot AS (
  SELECT SUM(c) AS t, COUNT(*) AS v FROM bcnt
), btop AS (
  SELECT bg, c FROM bcnt ORDER BY c DESC, bg LIMIT {BIGRAM_VOCAB_K}
), blp AS (
  SELECT bg, CAST(ROUND(LN(CAST(c + 1 AS DOUBLE) / (t + v + 1))
                        * {_LP_SCALE}) AS BIGINT) AS lp8
  FROM btop CROSS JOIN btot
), utok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), ucnt AS (
  SELECT term, COUNT(*) AS c FROM utok GROUP BY term
), utot AS (
  SELECT SUM(c) AS t, COUNT(*) AS v FROM ucnt
), utop AS (
  SELECT term, c FROM ucnt ORDER BY c DESC, term LIMIT {UNIGRAM_VOCAB_K}
), ulp AS (
  SELECT term, CAST(ROUND(LN(CAST(c + 1 AS DOUBLE) / (t + v + 1))
                          * {_LP_SCALE}) AS BIGINT) AS lp8
  FROM utop CROSS JOIN utot
), uoov AS (
  SELECT CAST(ROUND(LN(1.0 / (t + v + 1)) * {_LP_SCALE}) AS BIGINT) AS lp8
  FROM utot
)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN bl.lp8 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov_bigrams,
       ROUND(-CAST(SUM({BIGRAM_W10}
                       * COALESCE(bl.lp8,
                                  COALESCE(ul.lp8, uo.lp8) + {BACKOFF_LP8})
                       + {10 - BIGRAM_W10} * COALESCE(ul.lp8, uo.lp8))
                   AS DOUBLE)
             / (COUNT(*) * 10.0 * {_LP_SCALE}), 6) AS avg_nll
FROM bg b
LEFT JOIN blp bl ON b.bg = bl.bg
LEFT JOIN ulp ul ON string_split(b.bg, ' ')[2] = ul.term
CROSS JOIN uoov uo
GROUP BY b.doc_id
""",
    "decontam_overlap": f"""
WITH w AS (
  SELECT doc_id, {_SQL_BENCH} AS is_bench,
         string_split(text, ' ') AS words
  FROM documents
), g AS (
  SELECT doc_id, is_bench, len(words) - {NGRAM - 1} AS n_grams,
         unnest({_SQL_GRAMS}) AS gram
  FROM w WHERE len(words) >= {NGRAM}
), bench AS (
  SELECT DISTINCT gram FROM g WHERE is_bench
)
SELECT c.doc_id, c.n_grams,
       COUNT(DISTINCT c.gram) AS n_hit,
       ROUND(CAST(COUNT(DISTINCT c.gram) AS DOUBLE) / c.n_grams, 6)
         AS hit_frac
FROM g c JOIN bench b USING (gram)
WHERE NOT c.is_bench
GROUP BY c.doc_id, c.n_grams
""",
    "repetition_filter": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), m AS (
  SELECT doc_id, len(words) AS n_words,
         len(list_distinct(words)) AS n_distinct,
         list_max(list_transform(list_distinct(words),
                  w -> len(list_filter(words, x -> x = w)))) AS top_cnt,
         {_SQL_G2} AS g2
  FROM w
)
SELECT doc_id, n_words,
       ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
       ROUND(CASE WHEN n_words > 0
                  THEN CAST(top_cnt AS DOUBLE) / n_words
                  ELSE 0.0 END, 6) AS top_word_frac,
       ROUND(CASE WHEN len(g2) > 0
                  THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                             / len(g2)
                  ELSE 0.0 END, 6) AS dup_2gram_frac,
       CAST((CASE WHEN n_words > 0
                  THEN CAST(top_cnt AS DOUBLE) / n_words
                  ELSE 0.0 END) > {TOP_WORD_MAX}
            OR (CASE WHEN len(g2) > 0
                     THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                                / len(g2)
                     ELSE 0.0 END) > {DUP_2GRAM_MAX} AS INT)
         AS repetitive
FROM m
""",
    "pii_redact": f"""
WITH p AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or 555-0'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
           AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{PAT_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{PAT_PHONE}')) AS n_phones,
       len(regexp_extract_all(text, '{PAT_IPV4}')) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PAT_EMAIL}', '<EMAIL>', 'g'),
           '{PAT_IPV4}', '<IP>', 'g'),
           '{PAT_PHONE}', '<PHONE>', 'g') AS clean_text
FROM p
""",
    # oracle does the explode/join form of both passes — the SQL-natural
    # correctness twin of the broadcast-literal zero-shuffle Spark plan
    "boilerplate_strip": f"""
WITH p AS (
  SELECT doc_id,
         '{_BP_HEADER[0]}' || source || '{_BP_HEADER[1]}' || chr(10)
           || text || chr(10) || '{_BP_FOOTER}' AS text
  FROM documents
), s AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM p
), l AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(1, len(ls) + 1)) AS idx
  FROM s
), hot AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
  GROUP BY line HAVING COUNT(*) >= {BOILER_MIN_DF}
  ORDER BY COUNT(*) DESC, line LIMIT {BOILER_MAX_HOT}
)
SELECT l.doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN h.line IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN h.line IS NULL THEN l.line END,
                           chr(10) ORDER BY l.idx), '') AS clean_text
FROM l LEFT JOIN hot h ON l.line = h.line
GROUP BY l.doc_id
""",
    "unigram_logprob": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), tok AS (
  SELECT doc_id, unnest(words) AS term FROM w
), cnt AS (
  SELECT term, COUNT(*) AS c FROM tok GROUP BY term
), tot AS (
  SELECT SUM(c) AS t, COUNT(*) AS v FROM cnt
), topv AS (
  SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT {UNIGRAM_VOCAB_K}
), lp AS (
  SELECT term,
         CAST(ROUND(LN(CAST(c + 1 AS DOUBLE) / (t + v + 1))
                    * {_LP_SCALE}) AS BIGINT) AS lp8
  FROM topv CROSS JOIN tot
), oov AS (
  SELECT CAST(ROUND(LN(1.0 / (t + v + 1)) * {_LP_SCALE}) AS BIGINT)
           AS lp8
  FROM tot
)
SELECT k.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN l.term IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_oov,
       ROUND(-CAST(SUM(COALESCE(l.lp8, o.lp8)) AS DOUBLE)
             / (COUNT(*) * {_LP_SCALE}.0), 6) AS avg_nll
FROM tok k LEFT JOIN lp l ON k.term = l.term CROSS JOIN oov o
GROUP BY k.doc_id
""",
}
