"""The corpus-curation job: the LLM-training-data pipeline end-to-end.

Composes the repo's cleaning operators into the standard curation
funnel (the shape of public pipelines like C4/Dolma/RefinedWeb) over
the `documents` table:

    1. rule-based quality filter   (queries/text.py c4_keep flags)
    2. exact dedup, keep-min-id    (normalized-content hash groupBy)
    3. benchmark decontamination   (queries/cleaning.py, broadcast grams)
    4. repetition filter           (queries/cleaning.py per-row metrics)
    5. duplicate-span filter       (queries/dedup.py span stats: drop
                                    docs that are mostly cross-doc
                                    duplicated text, Lee et al. 2021)
   5b. semantic dedup              (queries/similarity.py SemDeDup over
                                    the docs that carry embeddings —
                                    within-cluster cosine pairs, drop
                                    the more-prototypical member; docs
                                    without embeddings pass)
    6. LM perplexity filter        (queries/cleaning.py unigram NLL vs a
                                    corpus-derived percentile cut — the
                                    CCNet discipline; threshold is a
                                    driver scalar from approxQuantile)
    7. deterministic split         (queries/sampling.py hash buckets)
    8. write, partitioned by split (+ a one-row funnel-stats frame)

Every stage is a column flag until the single final filter, so the
whole funnel is ONE corpus scan plus the three narrow side plans the
stages need (the duplicate keep-set, the contaminated-id set, and the
span-dup-id set — all id-only joins). Stage flags survive into the
output for auditability — a curation pipeline must explain every drop.

Run: python -m big_data_crypto_sentiment_spark.jobs.curate \
       --sf-dir /root/testdata/sf0.001 --out-dir /tmp/curated
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LM_DROP_FRAC = 0.10  # worst decile by unigram NLL (CCNet's "tail" cut)
SPAN_DUP_MAX_FRAC = 0.5  # drop docs whose dup-gram coverage exceeds this


def _per_doc_flags(d: DataFrame, lp: dict[str, int], oov: int) -> DataFrame:
    """quality_ok + repetition_ok + avg_nll in ONE projection chain over
    one corpus scan (VERDICT r14 #3): the C4 rules, the repetition
    metrics, and the LM score are all per-row, so the funnel computes
    them together instead of three separate `documents` scans. The flag
    semantics are expression-identical to q_text_c4_filter /
    repetition_signals / unigram_score (same shared constants, same
    integer thresholds, same staged-array hygiene — every HOF array in
    its own projection so Catalyst never duplicates the expensive
    expression trees). NULL-text docs are dropped, exactly as the
    previous inner join on unigram_score's output did."""
    from ..queries._util import literal_map
    from ..queries.cleaning import _LP_SCALE, DUP_2GRAM_MAX, TOP_WORD_MAX
    from ..queries.text import (
        _n_words,
        C4_MIN_WORDS,
        C4_PUNCT_PCT,
        C4_STOPWORD_PCT,
        PAT_CTA,
        PAT_STOPWORD,
    )

    t = F.col("text")
    n_words = _n_words(t)
    stop_n = F.regexp_count(t, F.lit(PAT_STOPWORD))
    punct_n = F.length(t) - F.length(
        F.regexp_replace(t, r"[^A-Za-z0-9\s]", ""))
    too_short = (n_words < C4_MIN_WORDS).cast("int")
    low_stop = (stop_n * 100 < n_words * C4_STOPWORD_PCT).cast("int")
    high_punct = (punct_n * 100 > F.length(t) * C4_PUNCT_PCT).cast("int")
    cta_spam = (F.regexp_count(t, F.lit(PAT_CTA)) > 0).cast("int")
    quality_ok = ((too_short + low_stop + high_punct + cta_spam) == 0)

    lpmap = literal_map(lp)
    s1 = (d.filter(t.isNotNull())
           .select("*", quality_ok.cast("int").alias("quality_ok"),
                   F.split(t, " ").alias("_w")))
    g2 = F.expr("transform(slice(_w, 1, size(_w) - 1), "
                "(w, i) -> concat(w, ' ', _w[i + 1]))")
    tok_lp = F.transform(
        F.col("_w"),
        lambda w: F.coalesce(F.element_at(lpmap, w), F.lit(oov)))
    s2 = s1.select("*", g2.alias("_g2"), tok_lp.alias("_lp"))
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
    sum_lp = F.aggregate(F.col("_lp"), F.lit(0).cast("bigint"),
                         lambda a, x: a + x.cast("bigint"))
    base = list(d.columns)
    s3 = s2.select(*base, "quality_ok",
                   F.size("_w").alias("_nw"),
                   top_cnt.alias("_top"),
                   F.size("_g2").alias("_n2"),
                   F.size(F.array_distinct("_g2")).alias("_nd2"),
                   sum_lp.alias("_slp"))
    top_frac = F.when(F.col("_nw") > 0,
                      F.col("_top") / F.col("_nw")).otherwise(0.0)
    dup2 = F.when(F.col("_n2") > 0,
                  1.0 - F.col("_nd2") / F.col("_n2")).otherwise(0.0)
    repetitive = (top_frac > TOP_WORD_MAX) | (dup2 > DUP_2GRAM_MAX)
    avg_nll = F.round(-F.col("_slp").cast("double")
                      / (F.col("_nw") * float(_LP_SCALE)), 6)
    return s3.select(*base, "quality_ok",
                     (1 - repetitive.cast("int")).alias("repetition_ok"),
                     avg_nll.alias("avg_nll"))


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotated corpus: every doc with its per-stage keep flags, final
    `keep`, and `split`. Filter on `keep` to materialize the corpus;
    keep the full frame for drop auditing."""
    from ..queries._util import table
    from ..queries.cleaning import (
        decontaminate,
        unigram_model,
    )
    from ..queries.sampling import split_train_val_test

    d = table(spark, sf_dir, "documents")

    # keep_ids feeds THREE consumers (the span-dedup base, the
    # SemDeDup survivor join, and the final flag join) — without
    # lineage truncation each reference re-runs the corpus scan +
    # the normalized-content shuffle. A non-eager localCheckpoint
    # (materialized by the query's own first action, shared by all
    # readers) computes it once — the _semdedup_pairs discipline.
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    keep_ids = (d.groupBy(norm.alias("content"))
                 .agg(F.min("doc_id").alias("doc_id"))
                 .select("doc_id", F.lit(1).alias("dedup_keep"))
                 .localCheckpoint(eager=False))

    contaminated = (decontaminate(d)
                    .select("doc_id", F.lit(1).alias("contaminated")))

    # substring-level dedup: id-only set of docs that are mostly
    # duplicated spans (dup_frac > cap); docs shorter than the gram
    # width never appear in the stats and stay ok by coalesce.
    # Computed over the EXACT-DEDUP SURVIVORS, not the raw corpus —
    # on the full corpus every doc with an exact duplicate shares all
    # its grams with its copies, so the stage-2 keep-representative
    # would flag itself span_dup and duplicated content would vanish
    # entirely instead of keeping one copy.
    # r16 (guide §1.2): the gram explode is the stage's dominant
    # per-row cost and q_dedup_span_stats caches the corpus-wide
    # exploded grams (_GRAMS_CACHE, keyed on the input plan). Pass the
    # IDENTICAL corpus plan (rebalance_scan + the two columns, so the
    # semanticHash key matches) and restrict to the exact-dedup
    # survivors via keep_ids — a semi-join on the exploded grams,
    # row-identical to exploding the pre-filtered docs (keep_ids ids
    # are unique, so the old inner join was a semi-join too).
    from ..queries._util import rebalance_scan
    from ..queries.dedup import duplicate_span_stats
    span_dup = (duplicate_span_stats(
                    rebalance_scan(d).select("doc_id", "text"),
                    keep_ids=keep_ids.select("doc_id"))
                .filter(F.col("dup_frac") > SPAN_DUP_MAX_FRAC)
                .select("doc_id", F.lit(1).alias("span_dup")))

    # semantic dedup over the subset of docs that carry embeddings
    # (vec_id == doc_id by fixture convention). Runs on the EXACT-DEDUP
    # SURVIVORS like the span stage — exact copies have identical
    # embeddings (cos 1 pairs) and SemDeDup's equal-cos tie-break drops
    # the higher id, which happens to agree with stage 2's keep-min-id,
    # but computing on survivors keeps the funnel discipline uniform
    # and the agreement non-load-bearing. Docs without embeddings pass.
    # A corpus without an embeddings table skips the stage entirely
    # (every doc passes) — embeddings are an optional enrichment.
    import os
    from ..queries.similarity import semdedup_kmeans
    if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        emb = (table(spark, sf_dir, "embeddings")
               .select(F.col("vec_id").alias("doc_id"), "embedding")
               .join(keep_ids.select("doc_id"), "doc_id")
               .withColumnRenamed("doc_id", "vec_id"))
        # k-means front-end (the paper's own clustering): k grows
        # with the survivor count via semdedup_k_for, so cluster sizes
        # — and the intra-cluster pair fan-out — stay bounded without
        # any dependence on a label column
        sem_dup = (semdedup_kmeans(spark, emb)
                   .filter(~F.col("is_kept"))
                   .select(F.col("vec_id").alias("doc_id"),
                           F.lit(1).alias("semantic_dup")))
    else:
        sem_dup = spark.createDataFrame(
            [], "doc_id long, semantic_dup int")

    # CCNet-style perplexity cut: score every doc under the corpus
    # unigram LM, drop the worst LM_DROP_FRAC by avg NLL. The threshold
    # is a bounded driver scalar (approxQuantile over one score column);
    # the flag itself stays a column like every other stage.
    # r16 (guide §2.4, remove passes outright): the unigram model is
    # the SAME ("unigram_docs", sf) artifact q_unigram_logprob /
    # q_bigram_logprob build — share the session cache instead of
    # re-running the count agg + collects; and the cut's quantile pass
    # now reads avg_nll off the CHECKPOINTED flags frame itself (the
    # values are expression-identical to unigram_score's, so the
    # threshold is bit-unchanged) — one heavy per-doc-flag scan total
    # where the pre-r16 funnel paid the lean scoring scan for the
    # quantile AND re-ran the full flag projection in the final agg.
    lp, oov, _ = unigram_model(d, cache_key=("unigram_docs", sf_dir))
    flags_nll = (_per_doc_flags(d, lp, oov)
                 .localCheckpoint(eager=False))
    cut = flags_nll.approxQuantile("avg_nll",
                                   [1.0 - LM_DROP_FRAC], 1e-3)[0]
    flags = flags_nll.withColumn(
        "lm_ok", (F.col("avg_nll") <= cut).cast("int")).drop("avg_nll")

    out = (split_train_val_test(flags, "doc_id")
           .join(keep_ids, "doc_id", "left")
           .join(F.broadcast(contaminated), "doc_id", "left")
           .join(F.broadcast(span_dup), "doc_id", "left")
           .join(F.broadcast(sem_dup), "doc_id", "left")
           .withColumn("dedup_keep", F.coalesce("dedup_keep", F.lit(0)))
           .withColumn("contaminated",
                       F.coalesce("contaminated", F.lit(0)))
           .withColumn("span_dup", F.coalesce("span_dup", F.lit(0)))
           .withColumn("semantic_dup",
                       F.coalesce("semantic_dup", F.lit(0))))
    keep = ((F.col("quality_ok") == 1) & (F.col("repetition_ok") == 1)
            & (F.col("lm_ok") == 1)
            & (F.col("dedup_keep") == 1) & (F.col("contaminated") == 0)
            & (F.col("span_dup") == 0) & (F.col("semantic_dup") == 0))
    return out.withColumn("keep", keep.cast("int"))


def funnel_stats(annotated: DataFrame) -> DataFrame:
    """One row: how many docs each stage would drop, and the final keep
    count — the number every curation run reports."""
    return annotated.agg(
        F.count("*").alias("n_docs"),
        F.sum(1 - F.col("quality_ok")).alias("drop_quality"),
        F.sum(1 - F.col("dedup_keep")).alias("drop_dup"),
        F.sum("contaminated").alias("drop_contaminated"),
        F.sum(1 - F.col("repetition_ok")).alias("drop_repetitive"),
        F.sum("span_dup").alias("drop_span_dup"),
        F.sum("semantic_dup").alias("drop_semantic_dup"),
        F.sum(1 - F.col("lm_ok")).alias("drop_lm"),
        F.sum("keep").alias("n_kept"))


def run_curation(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    annotated = curate(spark, sf_dir).persist()
    (annotated.filter(F.col("keep") == 1)
              .select("doc_id", "lang", "source", "split")
              .write.mode("overwrite").partitionBy("split")
              .parquet(out_dir))
    stats = funnel_stats(annotated).first().asDict()
    annotated.unpersist()
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    args = ap.parse_args()
    from ..session import get_spark
    spark = get_spark("curate")
    print(run_curation(spark, args.sf_dir, args.out_dir))


if __name__ == "__main__":
    main()
