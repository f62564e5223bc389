"""Text-analysis queries (SURVEY.md §2.2 P11/P12/P15, §2.4 A13) plus the
large-scale training-data text ops (language-ID heuristic, quality
scoring, token counting, document fingerprinting) over the driver
`documents` table and the duplicated `events.props` payload column.

Reference semantics re-expressed Spark-first:
  * regex string-feature extraction (urls/mentions/hashtags/cashtags/
    call-to-action) — eda/Data_Minions_EDA_Milestone4.ipynb cell 9
    (`basic_text_features`)
  * regex content filter (drop Japanese-char tweets) —
    twitter/stream_simulator_continuous.py:31-36
  * text truncation before model input — dataflow/stream_join.py:292-294
  * duplicate-rate + top duplicated texts — Milestone4 cell 9
  * lang-ID / quality / token-count / fingerprint are the LLM-pipeline
    extensions (no reference twin; shapes follow public corpus-cleaning
    practice: stopword-ratio heuristics, md5 content fingerprints).

Scale notes: every query here is embarrassingly parallel column math on
a single scan — no join, no window function; the only shuffles are the
hash aggregations in dup-rate/top-duplicated (partial→final combine, key
cardinality = distinct texts). Top-duplicated is a TakeOrderedAndProject
(no global sort materialization). All regexes are shared Java/RE2 syntax
so Spark and the DuckDB oracle agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import session_artifact, table

# shared Java-regex/RE2-compatible patterns (keep simple: char classes,
# alternation, \b) so Spark and DuckDB evaluate identically
PAT_URL = r"https?://[^\s]+"
PAT_MENTION = r"@[A-Za-z0-9_]+"
PAT_HASHTAG = r"#[A-Za-z0-9_]+"
PAT_CASHTAG = r"\$[A-Za-z]+"
PAT_CTA = r"(?i)\b(join|vip|telegram)\b"
PAT_CJK = r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]"  # hiragana/katakana/CJK
PAT_CJK_SQL = r"[぀-ヿ一-鿿]"
PAT_STOPWORD = r"(?i)\b(the|a|an|and|of|to|in|is|it|that)\b"
PAT_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish coarse tokens
TRUNCATE_AT = 100  # reference truncates at 10_000; fixture texts are short


def _n_words(c):
    return F.size(F.split(c, " "))


def normalized(c):
    """Whitespace-collapsed, lowercased text: the content key that exact
    dedup groups on and the fingerprints hash. Callers: text_signals,
    text_fingerprint, source_scorecard, the dedup_exact and
    dedup_source_matrix(_fp) keys, and jobs/curate.py's exact-dedup
    keep set."""
    return F.lower(F.regexp_replace(c, r"\s+", " "))


# --- P15 + P12: string feature extraction (Milestone4 cell 9) plus
#     model-input truncation (stream_join.py:292-294) — one projection,
#     one scan (merged so both stay inside the driver's window) ---
def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id", "lang", "source",
        F.length(t).alias("text_len"),
        _n_words(t).alias("n_words"),
        F.regexp_count(t, F.lit(PAT_URL)).alias("n_urls"),
        F.regexp_count(t, F.lit(PAT_MENTION)).alias("n_mentions"),
        F.regexp_count(t, F.lit(PAT_HASHTAG)).alias("n_hashtags"),
        F.regexp_count(t, F.lit(PAT_CASHTAG)).alias("n_cashtags"),
        t.rlike(PAT_CTA).cast("int").alias("has_cta"),
        F.substring("text", 1, TRUNCATE_AT).alias("text_trunc"),
        (F.length(t) > TRUNCATE_AT).cast("int").alias("was_truncated"),
    )


# --- P11: regex content filter (keep non-CJK docs mentioning spark) ---
def q_text_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (d.filter(~F.col("text").rlike(PAT_CJK))
             .filter(F.col("text").rlike(r"\bspark\b"))
             .select("doc_id", "lang", "n_chars"))


# --- A13a: duplicate rate over the duplicated events.props payload ---
def q_text_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        F.count("props").alias("n_texts"),
        F.countDistinct("props").alias("n_distinct"),
        F.round(F.lit(1.0) - F.countDistinct("props") / F.count("props"), 6)
         .alias("dup_rate"),
    )


# --- A13b: top duplicated texts (value_counts().head(10)) ---
def q_text_top_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (ev.filter(F.col("props").isNotNull())
              .groupBy("props").agg(F.count("*").alias("n_dups"))
              .orderBy(F.desc("n_dups"), "props")  # deterministic tie-break
              .limit(10))


# --- extension: n-gram language identification (Cavnar & Trenkle 1994
#     "N-Gram-Based Text Categorization": rank-order character-trigram
#     profiles + out-of-place distance). The stopword/script heuristic
#     in text_signals below is the cheap one-scan screen; THIS is the standard content-based identifier. 100-TB
#     shape: the trained profile is a bounded (n_langs × K) artifact
#     that broadcasts — classification is one corpus scan, a per-doc
#     top-M window over (doc, trigram) counts, and a broadcast join;
#     no corpus-sized state ever shuffles on anything but doc keys.
#     Integer-exact throughout (ranks and rank-distances only), so the
#     DuckDB twin hashes bitwise. Docs whose top-M trigrams match NO
#     language profile drop out identically on both engines (inner
#     matched-join + (M_doc − n_match)·K completion, same SQL shape).
LANGID_PROFILE_K = 40   # trigrams per language profile
LANGID_DOC_M = 20       # trigrams per document profile


def q_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "lang", "text")
    s = F.lower(F.regexp_replace(F.col("text"), r"\s+", "_"))
    # explicit pre-filter + explode_outer: keeps the transform lambda
    # out of inferred scan Filters (InferFiltersFromGenerate guard)
    base = d.select("doc_id", "lang", s.alias("s")) \
            .filter(F.length("s") >= 3)
    tri = base.select(
        "doc_id", "lang",
        F.explode_outer(F.transform(
            F.sequence(F.lit(1), F.length("s") - 2),
            lambda i: F.col("s").substr(i, F.lit(3)))).alias("tri"))
    # r16 (guide §1.2): doc_cnt (the corpus trigram explode + agg — the
    # operator's dominant pass) feeds BOTH the per-doc profile and the
    # language-profile fold, and doc_prof feeds both doc_m and the
    # match join; non-eager localCheckpoints compute each once
    doc_cnt = tri.groupBy("doc_id", "lang", "tri") \
                 .agg(F.count("*").alias("cnt")) \
                 .localCheckpoint(eager=False)
    wd = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "tri")
    doc_prof = (doc_cnt.withColumn("doc_rank", F.row_number().over(wd))
                       .filter(F.col("doc_rank") <= LANGID_DOC_M)
                       .localCheckpoint(eager=False))
    doc_m = doc_prof.groupBy("doc_id", "lang").agg(F.count("*").alias("m"))
    # language profiles fold the per-doc counts (no second corpus pass)
    lang_cnt = doc_cnt.groupBy("lang", "tri").agg(F.sum("cnt").alias("cnt"))
    wl = Window.partitionBy("lang").orderBy(F.desc("cnt"), "tri")
    prof = (lang_cnt.withColumn("prof_rank", F.row_number().over(wl))
                    .filter(F.col("prof_rank") <= LANGID_PROFILE_K)
                    .select(F.col("lang").alias("cand"), "tri", "prof_rank"))
    matched = (doc_prof.select("doc_id", "tri", "doc_rank")
                       .join(F.broadcast(prof), "tri")
                       .groupBy("doc_id", "cand")
                       .agg(F.sum(F.abs(F.col("doc_rank")
                                        - F.col("prof_rank"))).alias("sum_abs"),
                            F.count("*").alias("n_match")))
    dist = (matched.join(doc_m, "doc_id")
                   .select("doc_id", "lang", "cand",
                           (F.col("sum_abs")
                            + (F.col("m") - F.col("n_match"))
                            * LANGID_PROFILE_K)
                           .cast("bigint").alias("oop_distance")))
    wbest = Window.partitionBy("doc_id").orderBy("oop_distance", "cand")
    return (dist.withColumn("rn", F.row_number().over(wbest))
                .filter(F.col("rn") == 1)
                .select("doc_id", "lang",
                        F.col("cand").alias("pred_lang"), "oop_distance"))


# --- merged single-scan signals: lang-ID + quality + token counts +
#     fingerprint in ONE projection. The registered query computes all
#     of them in a single corpus pass — at 100 TB four
#     separate scans of the documents table is exactly the waste this
#     column-math family exists to avoid (same merge precedent as
#     ts_window_calcs / data_profile). ---
def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    # regex-per-row CPU dominates; widen a one-row-group scan first
    d = rebalance_scan(table(spark, sf_dir, "documents"))
    t = F.col("text")
    n_words = _n_words(t)
    stop_ratio_r = F.round(
        F.regexp_count(t, F.lit(PAT_STOPWORD)) / n_words, 6)
    punct_ratio = (F.length(t)
                   - F.length(F.regexp_replace(t, r"[^A-Za-z0-9\s]", ""))) \
        / F.length(t)
    stop_ratio = F.regexp_count(t, F.lit(PAT_STOPWORD)) / n_words
    len_score = F.least(F.lit(1.0), n_words / F.lit(50.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0),
                0.5 * len_score + 0.3 * stop_ratio * 10 - 0.2 * punct_ratio))
    norm = normalized(t)
    return d.select(
        "doc_id", "lang",
        # lang-ID
        stop_ratio_r.alias("stopword_ratio"),
        F.when(t.rlike(PAT_CJK), F.lit("cjk"))
         .when(stop_ratio_r >= 0.05, F.lit("en"))
         .otherwise(F.lit("other")).alias("lang_guess"),
        # quality
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(len_score, 6).alias("len_score"),
        F.round(score, 6).alias("quality_score"),
        # token counts
        n_words.alias("ws_tokens"),
        F.regexp_count(t, F.lit(PAT_TOKEN)).alias("regex_tokens"),
        F.round(F.length(t) / F.lit(4.0), 6).alias("approx_llm_tokens"),
        # fingerprint
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("shard_key"),
    )


# --- corpus vocabulary: global top-k terms by frequency. One explode +
#     partial/final hash agg + TakeOrderedAndProject — the standard
#     vocab-building scan; key cardinality = |vocab|, never a global
#     sort of the term counts. ---
VOCAB_TOP_K = 50


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    # the split+explode map side is the expensive leaf; widen it so the
    # partial hash-agg runs on every core, not one
    d = rebalance_scan(table(spark, sf_dir, "documents"))
    return (d.select("doc_id",
                     F.explode(F.split(F.col("text"), " ")).alias("term"))
             .groupBy("term")
             .agg(F.count("*").alias("n_occurrences"),
                  F.count_distinct("doc_id").alias("doc_freq"))
             .orderBy(F.desc("n_occurrences"), "term")
             .limit(VOCAB_TOP_K))


# --- extension: C4-style rule-based quality filter ---
# Keep/drop with per-rule flags (the standard corpus-cleaning shape:
# auditable reasons, not just a score). Thresholds are pure INTEGER
# comparisons (count*100 < n_words instead of ratio < 0.01) so the
# decision is bit-identical on every engine — no float boundary can
# flip a row between Spark and the oracle. One scan, zero shuffles,
# embarrassingly parallel at any corpus size.
C4_MIN_WORDS = 5
C4_STOPWORD_PCT = 1     # drop if stopwords < 1% of words
C4_PUNCT_PCT = 30       # drop if punct chars > 30% of chars


def c4_flags(t):
    """The four C4 rule flags of text column `t` by output name (1 = the
    rule fires) and the keep flag (1 iff none fires). NULL text gives
    NULL flags; a caller that must drop it filters first. Callers:
    q_text_c4_filter and jobs/curate.py's quality stage."""
    n_words = _n_words(t)
    stop_n = F.regexp_count(t, F.lit(PAT_STOPWORD))
    punct_n = F.length(t) - F.length(
        F.regexp_replace(t, r"[^A-Za-z0-9\s]", ""))
    too_short = (n_words < C4_MIN_WORDS).cast("int")
    low_stop = (stop_n * 100 < n_words * C4_STOPWORD_PCT).cast("int")
    high_punct = (punct_n * 100 > F.length(t) * C4_PUNCT_PCT).cast("int")
    cta_spam = (F.regexp_count(t, F.lit(PAT_CTA)) > 0).cast("int")
    flags = {"f_too_short": too_short, "f_low_stopword": low_stop,
             "f_high_punct": high_punct, "f_cta_spam": cta_spam}
    keep = ((too_short + low_stop + high_punct + cta_spam) == 0).cast("int")
    return flags, keep


def q_text_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents"))
    flags, keep = c4_flags(F.col("text"))
    return d.select("doc_id", *(c.alias(n) for n, c in flags.items()),
                    keep.alias("keep"))


# --- extension: Gopher quality rules (Rae et al. 2021, "Scaling
#     Language Models: ... Gopher", Appendix A.1.1 — the published
#     rule set, complementing the C4 filter above). Same engine-exact
#     discipline: every threshold is an INTEGER cross-multiplication
#     (alpha*10 >= n_words*8, never alpha/n_words >= 0.8), so no float
#     boundary can flip a row between Spark and the oracle. One scan,
#     zero shuffles; the line/word rules are higher-order array ops
#     over split() — JVM-side, no UDF. ---
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3, 10   # mean word length bounds
GOPHER_SYM_PCT = 10        # symbol (#/ellipsis) to word ratio <= 0.1
GOPHER_BULLET_PCT = 90     # < 90% of lines start with a bullet
GOPHER_ELLIPSIS_PCT = 30   # < 30% of lines end with an ellipsis
GOPHER_ALPHA_PCT = 80      # >= 80% of words contain a letter
GOPHER_MIN_STOPWORDS = 2   # >= 2 distinct stop words present
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that",
                    "have", "with")
PAT_SYMBOL = r"#|\.\.\.|…"
PAT_BULLET = r"^\s*[-*•]"
PAT_ELLIPSIS_END = r"(\.\.\.|…)\s*$"


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents"))
    t = F.col("text")
    words = F.split(t, " ")
    lines = F.split(t, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    # mean-word-length bounds via total non-whitespace chars
    ns_chars = F.length(F.regexp_replace(t, r"[\s]", ""))
    sym_n = F.regexp_count(t, F.lit(PAT_SYMBOL))
    bullet_n = F.size(F.filter(lines, lambda l: l.rlike(PAT_BULLET)))
    ell_n = F.size(F.filter(lines, lambda l: l.rlike(PAT_ELLIPSIS_END)))
    alpha_n = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_distinct = sum(
        (F.regexp_count(t, F.lit(rf"(?i)\b{s}\b")) > 0).cast("int")
        for s in GOPHER_STOPWORDS)
    flags = {
        "f_word_count": (n_words < GOPHER_MIN_WORDS)
        | (n_words > GOPHER_MAX_WORDS),
        "f_mean_word_len": (ns_chars < n_words * GOPHER_MIN_MWL)
        | (ns_chars > n_words * GOPHER_MAX_MWL),
        "f_symbol_ratio": sym_n * 100 > n_words * GOPHER_SYM_PCT,
        "f_bullet_lines": bullet_n * 100 >= n_lines * GOPHER_BULLET_PCT,
        "f_ellipsis_lines": ell_n * 100 >= n_lines * GOPHER_ELLIPSIS_PCT,
        "f_low_alpha": alpha_n * 100 < n_words * GOPHER_ALPHA_PCT,
        "f_few_stopwords": stop_distinct < GOPHER_MIN_STOPWORDS,
    }
    cols = [f.cast("int").alias(name) for name, f in flags.items()]
    keep = (sum(f.cast("int") for f in flags.values()) == 0).cast("int")
    return d.select("doc_id", n_words.alias("n_words"), *cols,
                    keep.alias("keep"))


# --- extension: per-source vocabulary novelty — which sources
#     INTRODUCE terms vs repeat them (a curation diversity signal: a
#     source whose docs mostly re-emit already-seen vocabulary adds
#     little; one that keeps introducing first occurrences can be
#     worth keeping even at lower quality scores). "First" is global
#     min(doc_id) (ingest order) — a deterministic integer argmin.
#     Plan: one explode+agg shuffle for the per-term first-doc, one
#     doc_id-keyed join to attribute each introduction to its source,
#     one bounded per-source agg; the ratio is round()ed per the
#     float convention, raw counts ride alongside. ---
def q_vocab_novelty_by_source(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .filter(F.col("text").isNotNull())
    tok = (d.select("doc_id", "source",
                    F.explode(F.split(F.col("text"), " ")).alias("term"))
            .filter(F.col("term") != ""))
    first = tok.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    intro = (first.join(d.select(F.col("doc_id").alias("first_doc"),
                                 F.col("source").alias("intro_source")),
                        "first_doc")
                  .groupBy("intro_source")
                  .agg(F.count(F.lit(1)).alias("n_introduced")))
    # r16 (guide §1.2): the per-source volume/distinct counts are an
    # exact rollup of the shared (source, term, c) aggregate — the ''
    # filter commutes with the per-(source, term) grouping, so sum(c) /
    # count(*) over the filtered aggregate equal the token-level counts
    # — sparing this entry its second tokenize+explode corpus pass
    stc = (_source_term_counts(spark, sf_dir)
           .filter(F.col("term") != ""))
    vol = stc.groupBy("source").agg(
        F.sum("c").alias("n_term_occurrences"),
        F.count(F.lit(1)).alias("n_distinct_terms"))
    return (vol.join(intro, vol.source == intro.intro_source, "left")
               .select("source", "n_term_occurrences",
                       "n_distinct_terms",
                       F.coalesce("n_introduced", F.lit(0))
                        .alias("n_introduced"),
                       F.round(F.coalesce("n_introduced", F.lit(0))
                               * 1000.0
                               / F.col("n_term_occurrences"), 6)
                        .alias("novelty_per_1k"))
               .orderBy("source"))  # bounded: one row per source


# --- extension: document fingerprinting (normalized-content md5 +
#     Karp–Rabin polynomial hash) ---
# Two fingerprints per doc, both zero-shuffle per-row array math:
#   * md5 of whitespace-normalized lowercase content (the exact-dedup /
#     shard-routing key), plus its 8-hex shard prefix;
#   * a Karp–Rabin polynomial hash over the word sequence
#     (acc = (acc·B + h(word)) mod P, B=131, P=1e9+7, h = 28-bit md5
#     prefix) — the incremental-update family used for rolling-window
#     substring fingerprints; computed as transform→aggregate so the
#     identical fold runs on the DuckDB twin via list_reduce. All
#     intermediates < 2^63 (acc < P ≈ 2^30, acc·131 + h < 2^38), so
#     the math is exact BIGINT on both engines under ANSI mode.
RK_BASE = 131
RK_MOD = 1_000_000_007


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs are DROPPED (unigram_score convention): coalescing
    # to '' would hand every NULL doc the empty-string fingerprint and
    # spuriously merge them with empty docs in dedup/shard routing
    d = table(spark, sf_dir, "documents") \
        .filter(F.col("text").isNotNull())
    norm = normalized(F.col("text"))
    wints = F.transform(
        F.split(norm, " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10)
                   .cast("long"))
    rk = F.aggregate(
        wints, F.lit(0).cast("long"),
        lambda a, b: (a * F.lit(RK_BASE) + b) % F.lit(RK_MOD))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("shard_key"),
        rk.alias("rk_hash"),
    )


# --- c-TF-IDF source profiling (BERTopic-style class TF-IDF): the top
#     distinctive terms per source — what a curation pipeline reads to
#     understand what each ingest source actually contains. Per-(source,
#     term) tf is one partial-combined hash agg; source-df per term is a
#     second agg over the first's output (key = term); n_sources is a
#     scalar. The idf factor ln(n_src/df) is frozen as INTEGER 1e-8 nats
#     (unigram_logprob precedent) so score8 = tf · idf8 is exact integer
#     math on both engines; top-k per source is a bounded window. ---
CTFIDF_TOP_K = 10
_CTFIDF_SCALE = 100_000_000


# r16 (guide §1.2): ctfidf_source_terms and js_divergence_sources each
# paid their own tokenize+explode corpus pass into the IDENTICAL
# (source, term, count) aggregate — build it once per (appId, sf_dir)
# and persist (output grain is |sources|·|vocab|, far below the
# exploded token stream both passes used to re-shuffle). Exact integer
# counts, so every derived value is unchanged.
def _source_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        from ._util import rebalance_scan
        d = rebalance_scan(table(spark, sf_dir, "documents")) \
            .select("source", "text")
        return (
            d.select("source",
                     F.explode(F.split("text", " ")).alias("term"))
             .groupBy("source", "term").agg(F.count("*").alias("c"))
             .persist())
    return session_artifact(spark, ("text.source_term_counts", sf_dir),
                            build)


def q_ctfidf_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = table(spark, sf_dir, "documents").select("source")
    tf = _source_term_counts(spark, sf_dir) \
        .select("source", "term", F.col("c").alias("tf"))
    sdf = tf.groupBy("term").agg(F.count("*").alias("df_src"))
    n_src = d.distinct().count()  # bounded scalar
    idf8 = F.round(F.log(F.lit(float(n_src)) / F.col("df_src"))
                   * _CTFIDF_SCALE).cast("bigint")
    scored = (tf.join(sdf, "term")
                .select("source", "term", "tf",
                        (F.col("tf") * idf8).alias("score8"))
                .filter(F.col("score8") > 0))
    w = Window.partitionBy("source").orderBy(F.desc("score8"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= CTFIDF_TOP_K)
                  .select("source", "rank", "term", "tf", "score8"))


# --- Jensen-Shannon divergence between source term distributions:
#     pairwise corpus-drift measure (mixture monitoring — which ingest
#     sources have diverged). Shape: one hash agg keyed by (source,
#     term), then a SELF-JOIN ON THE TERM (the inverted-index
#     discipline: a term meets only the sources containing it, pair
#     fan-out per term bounded by |sources|²). Terms present in only
#     one source of a pair contribute ½·p·ln2 each; their total is the
#     CLOSED FORM ½·ln2·(2 − Σ_shared pa − Σ_shared pb), so only shared
#     terms ever join — no outer join, no per-pair vocab spine. (A
#     first cut exploded a 190-branch literal pair array per term; the
#     giant expression tree fell out of whole-stage codegen and ran 10×
#     slower — measured, hence this shape.) Source totals are a bounded
#     driver artifact. Per-term contributions are doubles whose
#     cross-engine difference is ~1e-21 (one ln ulp); summing through
#     decimal(27,15) makes the reduction order-free and the driver hash
#     exact. Pairs sharing zero terms emit no row (JS = ln 2 — on
#     natural-language corpora stopword overlap makes this vacuous). ---
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ._util import dsum, literal_map
    cnt = _source_term_counts(spark, sf_dir)
    totals = {r.source: r.t for r in
              cnt.groupBy("source").agg(F.sum("c").alias("t")).collect()}
    tmap = literal_map({s: float(totals[s]) for s in sorted(totals)})
    pt = cnt.select(
        "term", "source",
        (F.col("c") / F.element_at(tmap, F.col("source"))).alias("p"))
    a = pt.select(F.col("source").alias("src_a"), "term",
                  F.col("p").alias("pa"))
    b = pt.select(F.col("source").alias("src_b"), "term",
                  F.col("p").alias("pb"))
    pa, pb = F.col("pa"), F.col("pb")
    both = (pa * F.log(2 * pa / (pa + pb))
            + pb * F.log(2 * pb / (pa + pb))) / 2
    return (a.join(b, "term")
             .filter(F.col("src_a") < F.col("src_b"))
             .select("src_a", "src_b", both.alias("contrib"), "pa", "pb")
             .groupBy("src_a", "src_b")
             .agg(F.round(
                 dsum("contrib", 15)
                 + 0.5 * math.log(2.0)
                 * (2 - dsum("pa", 15) - dsum("pb", 15)), 6).alias("js"))
             .orderBy("src_a", "src_b"))  # bounded: |sources|² rows


# --- per-source quality scorecard: the ONE table a curation run reads
#     to rank ingest sources — volume, exact-dup rate, length, and
#     repetition quality folded into a row per source. Composes the
#     repo's per-doc signal math (distinct-word ratio) with the
#     dedup-exact fingerprint discipline (md5 of whitespace-normalized
#     text), all in two hash aggs: (source, fingerprint) counts for the
#     dup rate, then one combinable per-source rollup. Means go through
#     exact decimal sums (dsum convention) so the driver hash is
#     order-free. ---
def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import davg, rebalance_scan, sql_davg  # noqa: F401
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("source", "text", "n_chars")
    norm = normalized(F.col("text"))
    w = F.split(F.col("text"), " ")
    # dratio travels as integer micro-units with an EXPLICIT round():
    # ratios of small ints can land exactly on a 1e-6 half-tie (any
    # 128-word doc does), where decimal-cast rounding modes diverge
    # between engines; round() of a positive double is half-up on both.
    per_doc = d.select(
        "source", "n_chars",
        F.md5(norm).alias("fp"),
        F.round(F.size(F.array_distinct(w)) / F.size(w) * 1_000_000)
         .cast("bigint").alias("dr6"))
    # ONE pass: the expensive per-row expressions (full-text md5 +
    # split + array_distinct) are evaluated exactly once, and the
    # per-source stats CASCADE off the (source, fp) agg instead of
    # re-scanning per_doc for a second agg + join (the r9 shape paid
    # the projection twice and a join; measured 2x at sf0.1). All
    # level-1 partials are combinable (counts + exact decimal sums),
    # so the rewrite is bit-identical: decimal sums are associative,
    # and the final double cast happens at the same point.
    fp_stats = (per_doc.groupBy("source", "fp")
                .agg(F.count("*").alias("c"),
                     F.count("n_chars").alias("nc"),
                     F.sum(F.col("n_chars").cast("decimal(27,6)"))
                      .alias("sc"),
                     F.sum("dr6").alias("sd")))
    return (fp_stats.groupBy("source")
            .agg(F.sum("c").alias("n_docs"),
                 F.sum(F.when(F.col("c") >= 2, F.col("c"))
                        .otherwise(0)).alias("n_dup_docs"),
                 F.round(F.sum("sc").cast("double") / F.sum("nc"), 6)
                  .alias("avg_chars"),
                 F.round(F.sum("sd")
                         / (F.sum("c") * 1_000_000.0), 6)
                  .alias("avg_distinct_ratio"))
            .select("source", "n_docs",
                    F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
                     .alias("dup_frac"),
                    "avg_chars", "avg_distinct_ratio")
            .orderBy("source"))  # bounded: one row per source


# --- grouped top-k (the per-group twin of the global bounded top-k
#     top_users): k best rows per group via a per-group rank window —
#     rank's sort is local to each group partition after the one
#     (source) shuffle, never a global sort; at 100 TB pre-aggregate or
#     pre-filter per-partition candidates if k << group size (Spark
#     already pushes the rank-filter below exchange via
#     WindowGroupLimit). Deterministic total order (n_chars desc,
#     doc_id). ---
TOPK_PER_GROUP = 3


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = table(spark, sf_dir, "documents") \
        .select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (d.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= TOPK_PER_GROUP)
             .select("source", F.col("rk").cast("int").alias("rk"),
                     "doc_id", "n_chars")
             .orderBy("source", "rk"))  # bounded: sources × k


QUERIES = {
    "top_docs_per_source": q_top_docs_per_source,
    "text_fingerprint": q_text_fingerprint,
    "ctfidf_source_terms": q_ctfidf_source_terms,
    "js_divergence_sources": q_js_divergence_sources,
    "source_scorecard": q_source_scorecard,
    "text_features": q_text_features,
    "text_rlike_filter": q_text_rlike_filter,
    "text_dup_rate": q_text_dup_rate,
    "text_top_duplicated": q_text_top_duplicated,
    "text_signals": q_text_signals,
    "text_c4_filter": q_text_c4_filter,
    "text_gopher_rules": q_text_gopher_rules,
    "text_langid_ngram": q_text_langid_ngram,
    "vocab_novelty_by_source": q_vocab_novelty_by_source,
    "vocab_top_terms": q_vocab_top_terms,
}

# DuckDB regexp_replace only replaces the first match without the 'g'
# flag, and has no regexp_count — len(regexp_extract_all(...)) is the
# equivalent. Patterns are identical strings on both sides.
_SQL_NWORDS = "len(string_split(text, ' '))"


def _sql_count(pat: str) -> str:
    return f"len(regexp_extract_all(text, '{pat}'))"


def _sql_normalized(col: str) -> str:
    """The DuckDB twin of normalized()."""
    return f"lower(regexp_replace({col}, '\\s+', ' ', 'g'))"


def _sql_ctfidf() -> str:
    return f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term
), sdf AS (
  SELECT term, COUNT(*) AS df_src FROM tf GROUP BY term
), ns AS (
  SELECT COUNT(DISTINCT source) AS n FROM documents
), scored AS (
  SELECT tf.source, tf.term, tf.tf,
         tf.tf * CAST(ROUND(LN(CAST(n AS DOUBLE) / df_src)
                            * {_CTFIDF_SCALE}) AS BIGINT) AS score8
  FROM tf JOIN sdf USING (term) CROSS JOIN ns
), ranked AS (
  SELECT source, term, tf, score8,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score8 DESC, term) AS rank
  FROM scored WHERE score8 > 0
)
SELECT source, rank, term, tf, score8
FROM ranked WHERE rank <= {CTFIDF_TOP_K}
"""


def _sql_js_divergence() -> str:
    # SAME formulation as the Spark plan (shared-term join + closed-form
    # one-sided correction) so both engines walk identical float paths.
    from ._util import sql_dsum
    both = ("(pa * LN(2 * pa / (pa + pb)) "
            "+ pb * LN(2 * pb / (pa + pb))) / 2")
    return f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), cnt AS (
  SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term
), tot AS (
  SELECT source, SUM(c) AS t FROM cnt GROUP BY source
), p AS (
  SELECT c.term, c.source, CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
  FROM cnt c JOIN tot t USING (source)
), j AS (
  SELECT a.source AS src_a, b.source AS src_b, a.p AS pa, b.p AS pb
  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
)
SELECT src_a, src_b,
       ROUND({sql_dsum(both, 15)}
             + 0.5 * LN(2)
               * (2 - {sql_dsum('pa', 15)} - {sql_dsum('pb', 15)}), 6)
         AS js
FROM j GROUP BY src_a, src_b ORDER BY src_a, src_b
"""


def _sql_scorecard() -> str:
    from ._util import sql_davg
    return f"""
WITH per_doc AS (
  SELECT source, n_chars,
         md5({_sql_normalized('text')}) AS fp,
         CAST(ROUND(CAST(len(list_distinct(string_split(text, ' ')))
                         AS DOUBLE)
                    / len(string_split(text, ' ')) * 1000000) AS BIGINT)
           AS dr6
  FROM documents
), fp_counts AS (
  SELECT source, fp, COUNT(*) AS c FROM per_doc GROUP BY source, fp
), dup AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_docs
  FROM fp_counts GROUP BY source
), sig AS (
  SELECT source,
         ROUND({sql_davg('n_chars')}, 6) AS avg_chars,
         ROUND(CAST(SUM(dr6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
           AS avg_distinct_ratio
  FROM per_doc GROUP BY source
)
SELECT d.source, d.n_docs,
       ROUND(CAST(d.n_dup_docs AS DOUBLE) / d.n_docs, 6) AS dup_frac,
       s.avg_chars, s.avg_distinct_ratio
FROM dup d JOIN sig s USING (source)
ORDER BY d.source
"""


_SQL_HEX7_W = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(w), {i}, 1)) - 1)"
    f" * {16 ** (7 - i)}" for i in range(1, 8)) + ")"

ORACLE = {
    "text_fingerprint": f"""
WITH n AS (
  SELECT doc_id,
         {_sql_normalized('text')} AS norm
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT doc_id, norm,
         list_transform(string_split(norm, ' '),
                        w -> CAST({_SQL_HEX7_W} AS BIGINT)) AS wints
  FROM n
)
SELECT doc_id, md5(norm) AS fingerprint,
       substring(md5(norm), 1, 8) AS shard_key,
       list_reduce(list_concat([CAST(0 AS BIGINT)], wints),
                   (a, b) -> (a * {RK_BASE} + b) % {RK_MOD}) AS rk_hash
FROM h
""",
    "ctfidf_source_terms": _sql_ctfidf(),
    "js_divergence_sources": _sql_js_divergence(),
    "source_scorecard": _sql_scorecard(),
    "text_features": f"""
SELECT doc_id, lang, source,
       length(text) AS text_len,
       {_SQL_NWORDS} AS n_words,
       {_sql_count(PAT_URL)} AS n_urls,
       {_sql_count(PAT_MENTION)} AS n_mentions,
       {_sql_count(PAT_HASHTAG)} AS n_hashtags,
       {_sql_count(PAT_CASHTAG)} AS n_cashtags,
       CAST(regexp_matches(text, '{PAT_CTA}') AS INT) AS has_cta,
       substring(text, 1, {TRUNCATE_AT}) AS text_trunc,
       CAST(length(text) > {TRUNCATE_AT} AS INT) AS was_truncated
FROM documents
""",
    "text_rlike_filter": f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE NOT regexp_matches(text, '{PAT_CJK_SQL}')
  AND regexp_matches(text, '\\bspark\\b')
""",
    "text_dup_rate": """
SELECT COUNT(props) AS n_texts,
       COUNT(DISTINCT props) AS n_distinct,
       ROUND(1.0 - COUNT(DISTINCT props) / COUNT(props), 6) AS dup_rate
FROM events
""",
    "text_top_duplicated": """
SELECT props, COUNT(*) AS n_dups FROM events
WHERE props IS NOT NULL
GROUP BY props ORDER BY n_dups DESC, props LIMIT 10
""",
    "text_signals": f"""
WITH f AS (
  SELECT doc_id, lang, text,
         ROUND({_sql_count(PAT_STOPWORD)} / {_SQL_NWORDS}, 6) AS stop_ratio_r,
         (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
           / length(text) AS punct_ratio,
         {_sql_count(PAT_STOPWORD)} / {_SQL_NWORDS} AS stop_ratio,
         LEAST(1.0, {_SQL_NWORDS} / 50.0) AS len_score,
         md5({_sql_normalized('text')}) AS fp
  FROM documents
)
SELECT doc_id, lang,
       stop_ratio_r AS stopword_ratio,
       CASE WHEN regexp_matches(text, '{PAT_CJK_SQL}') THEN 'cjk'
            WHEN stop_ratio_r >= 0.05 THEN 'en'
            ELSE 'other' END AS lang_guess,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(len_score, 6) AS len_score,
       ROUND(GREATEST(0.0, LEAST(1.0,
             0.5 * len_score + 0.3 * stop_ratio * 10 - 0.2 * punct_ratio)), 6)
         AS quality_score,
       {_SQL_NWORDS} AS ws_tokens,
       {_sql_count(PAT_TOKEN)} AS regex_tokens,
       ROUND(length(text) / 4.0, 6) AS approx_llm_tokens,
       fp AS fingerprint,
       substring(fp, 1, 8) AS shard_key
FROM f
""",
    "vocab_top_terms": f"""
SELECT term, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents)
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT {VOCAB_TOP_K}
""",
    "text_c4_filter": f"""
WITH f AS (
  SELECT doc_id,
         {_SQL_NWORDS} AS n_words,
         {_sql_count(PAT_STOPWORD)} AS stop_n,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
           AS punct_n,
         length(text) AS n_chars,
         {_sql_count(PAT_CTA)} AS cta_n
  FROM documents
)
SELECT doc_id,
       CAST(n_words < {C4_MIN_WORDS} AS INT) AS f_too_short,
       CAST(stop_n * 100 < n_words * {C4_STOPWORD_PCT} AS INT) AS f_low_stopword,
       CAST(punct_n * 100 > n_chars * {C4_PUNCT_PCT} AS INT) AS f_high_punct,
       CAST(cta_n > 0 AS INT) AS f_cta_spam,
       CAST(CAST(n_words < {C4_MIN_WORDS} AS INT)
          + CAST(stop_n * 100 < n_words * {C4_STOPWORD_PCT} AS INT)
          + CAST(punct_n * 100 > n_chars * {C4_PUNCT_PCT} AS INT)
          + CAST(cta_n > 0 AS INT) = 0 AS INT) AS keep
FROM f
""",
}


ORACLE["text_langid_ngram"] = f"""
WITH base AS (
  SELECT doc_id, lang, lower(regexp_replace(text, '\\s+', '_', 'g')) AS s
  FROM documents
), pos AS (
  SELECT doc_id, lang, s, unnest(range(1, length(s) - 1)) AS i
  FROM base WHERE length(s) >= 3
), tri AS (
  SELECT doc_id, lang, substr(s, CAST(i AS INT), 3) AS tri FROM pos
), doc_cnt AS (
  SELECT doc_id, lang, tri, COUNT(*) AS cnt FROM tri GROUP BY 1, 2, 3
), doc_prof AS (
  SELECT doc_id, lang, tri,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, tri) AS doc_rank
  FROM doc_cnt
  QUALIFY doc_rank <= {LANGID_DOC_M}
), doc_m AS (
  SELECT doc_id, lang, COUNT(*) AS m FROM doc_prof GROUP BY 1, 2
), prof AS (
  SELECT lang AS cand, tri,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, tri) AS prof_rank
  FROM (SELECT lang, tri, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM doc_cnt GROUP BY 1, 2)
  QUALIFY prof_rank <= {LANGID_PROFILE_K}
), matched AS (
  SELECT d.doc_id, p.cand,
         CAST(SUM(ABS(d.doc_rank - p.prof_rank)) AS BIGINT) AS sum_abs,
         COUNT(*) AS n_match
  FROM doc_prof d JOIN prof p USING (tri)
  GROUP BY 1, 2
), dist AS (
  SELECT m.doc_id, m.lang, x.cand,
         CAST(x.sum_abs
              + (m.m - x.n_match) * {LANGID_PROFILE_K} AS BIGINT)
           AS oop_distance
  FROM matched x JOIN doc_m m USING (doc_id)
)
SELECT doc_id, lang, cand AS pred_lang, oop_distance
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY oop_distance, cand) AS rn
      FROM dist)
WHERE rn = 1
"""

ORACLE["vocab_novelty_by_source"] = """
WITH tok AS (
  SELECT doc_id, source, t.term
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
  WHERE text IS NOT NULL AND t.term <> ''
), first AS (
  SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term
), intro AS (
  SELECT d.source AS intro_source, COUNT(*) AS n_introduced
  FROM first f JOIN documents d ON d.doc_id = f.first_doc
  GROUP BY d.source
), vol AS (
  SELECT source, COUNT(*) AS n_term_occurrences,
         COUNT(DISTINCT term) AS n_distinct_terms
  FROM tok GROUP BY source
)
SELECT v.source,
       CAST(v.n_term_occurrences AS BIGINT) AS n_term_occurrences,
       CAST(v.n_distinct_terms AS BIGINT) AS n_distinct_terms,
       CAST(COALESCE(i.n_introduced, 0) AS BIGINT) AS n_introduced,
       ROUND(COALESCE(i.n_introduced, 0) * 1000.0
             / v.n_term_occurrences, 6) AS novelty_per_1k
FROM vol v LEFT JOIN intro i ON v.source = i.intro_source
ORDER BY v.source
"""

_SQL_STOP_DISTINCT = " + ".join(
    f"CAST(regexp_matches(text, '(?i)\\b{s}\\b') AS INT)"
    for s in GOPHER_STOPWORDS)

ORACLE["text_gopher_rules"] = f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(string_split(text, chr(10))) AS n_lines,
         length(regexp_replace(text, '[\\s]', '', 'g')) AS ns_chars,
         len(regexp_extract_all(text, '{PAT_SYMBOL}')) AS sym_n,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '{PAT_BULLET}'))) AS bullet_n,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS ell_n,
         len(list_filter(string_split(text, ' '),
             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_n,
         {_SQL_STOP_DISTINCT} AS stop_distinct
  FROM documents
), g AS (
  SELECT doc_id, n_words,
    CAST(n_words < {GOPHER_MIN_WORDS}
      OR n_words > {GOPHER_MAX_WORDS} AS INT) AS f_word_count,
    CAST(ns_chars < n_words * {GOPHER_MIN_MWL}
      OR ns_chars > n_words * {GOPHER_MAX_MWL} AS INT) AS f_mean_word_len,
    CAST(sym_n * 100 > n_words * {GOPHER_SYM_PCT} AS INT) AS f_symbol_ratio,
    CAST(bullet_n * 100 >= n_lines * {GOPHER_BULLET_PCT} AS INT)
      AS f_bullet_lines,
    CAST(ell_n * 100 >= n_lines * {GOPHER_ELLIPSIS_PCT} AS INT)
      AS f_ellipsis_lines,
    CAST(alpha_n * 100 < n_words * {GOPHER_ALPHA_PCT} AS INT) AS f_low_alpha,
    CAST(stop_distinct < {GOPHER_MIN_STOPWORDS} AS INT) AS f_few_stopwords
  FROM f
)
SELECT *, CAST(f_word_count + f_mean_word_len + f_symbol_ratio
             + f_bullet_lines + f_ellipsis_lines + f_low_alpha
             + f_few_stopwords = 0 AS INT) AS keep
FROM g
"""

ORACLE["top_docs_per_source"] = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars
FROM ranked WHERE rk <= {TOPK_PER_GROUP}
ORDER BY source, rk
"""
