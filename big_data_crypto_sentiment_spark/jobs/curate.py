"""The corpus-curation job: the LLM-training-data pipeline end-to-end.

Composes the repo's cleaning operators into the standard curation
funnel (the shape of public pipelines like C4/Dolma/RefinedWeb) over
the `documents` table:

    1. rule-based quality filter   (queries/text.py c4_flags)
    2. exact dedup, keep-min-id    (queries/text.py normalized content)
    3. benchmark decontamination   (queries/cleaning.py, broadcast grams)
    4. repetition filter           (queries/cleaning.py repetition_stages)
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
    8. write, partitioned by split (+ the funnel stats, observed)

Stages 1, 4 and 6 are the rules of the registry queries text_c4_filter,
repetition_filter and unigram_logprob, called, not copied: each rule has
one definition, and the oracle checks it. Every stage is a column flag
until the single final filter, so the whole funnel is ONE corpus scan
plus the three narrow side plans the stages need (the duplicate
keep-set, the contaminated-id set, and the span-dup-id set — all id-only
joins). Stage flags survive into the output for auditability — a
curation pipeline must explain every drop.

Run: python -m big_data_crypto_sentiment_spark.jobs.curate \
       --sf-dir /root/testdata/sf0.001 --out-dir /tmp/curated
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LM_DROP_FRAC = 0.10  # worst decile by unigram NLL (CCNet's "tail" cut)
SPAN_DUP_MAX_FRAC = 0.5  # drop docs whose dup-gram coverage exceeds this


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotated corpus: every doc with its per-stage keep flags, final
    `keep`, and `split`. Filter on `keep` to materialize the corpus;
    keep the full frame for drop auditing."""
    from ..queries._util import rebalance_scan, table
    from ..queries.cleaning import (
        decontaminate,
        repetition_stages,
        split_words,
        unigram_model,
        unigram_stages,
    )
    from ..queries.sampling import split_train_val_test
    from ..queries.text import c4_flags, normalized

    d = table(spark, sf_dir, "documents")

    # keep_ids feeds THREE consumers (the span-dedup base, the
    # SemDeDup survivor join, and the final flag join) — without
    # lineage truncation each reference re-runs the corpus scan +
    # the normalized-content shuffle. A non-eager localCheckpoint
    # (materialized by the query's own first action, shared by all
    # readers) computes it once — the _semdedup_pairs discipline.
    keep_ids = (d.groupBy(normalized(F.col("text")).alias("content"))
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
    # per-row cost and q_dedup_span_stats keeps the corpus-wide
    # exploded grams as a session artifact keyed on the input plan's
    # semanticHash(). Pass the IDENTICAL corpus plan (rebalance_scan +
    # the two columns, so the key matches) and restrict to the exact-dedup
    # survivors via keep_ids — a semi-join on the exploded grams,
    # row-identical to exploding the pre-filtered docs (keep_ids ids
    # are unique, so the old inner join was a semi-join too).
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
    # the flag itself stays a column like every other stage. The model
    # is the ("unigram_docs", sf) session artifact q_unigram_logprob and
    # q_bigram_logprob share, and the quantile reads avg_nll off the
    # checkpointed flags frame: one per-doc-flag scan in total.
    # The three per-row rules (C4, repetition, unigram NLL) share that
    # scan: stage k of each rule goes in the k-th select, so every
    # higher-order array keeps its own projection. NULL-text docs are
    # dropped up front, so they are in no count.
    lp, oov, _ = unigram_model(d, cache_key=("unigram_docs", sf_dir))
    _, quality_ok = c4_flags(F.col("text"))
    rep_arrays, rep_counts, rep_metrics = repetition_stages()
    lm_arrays, lm_scores = unigram_stages(lp, oov)
    base = list(d.columns)
    flags_nll = (d.filter(F.col("text").isNotNull())
                 .select(*base, quality_ok.alias("quality_ok"),
                         split_words("text"))
                 .select("*", *rep_arrays, *lm_arrays)
                 .select(*base, "quality_ok", *rep_counts, *lm_scores)
                 .select(*base, "quality_ok",
                         (1 - rep_metrics["repetitive"])
                         .alias("repetition_ok"), "avg_nll")
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
           .fillna(0, ["dedup_keep", "contaminated", "span_dup",
                       "semantic_dup"]))
    keep = ((F.col("quality_ok") == 1) & (F.col("repetition_ok") == 1)
            & (F.col("lm_ok") == 1)
            & (F.col("dedup_keep") == 1) & (F.col("contaminated") == 0)
            & (F.col("span_dup") == 0) & (F.col("semantic_dup") == 0))
    return out.withColumn("keep", keep.cast("int"))


def _stats_columns() -> list:
    """How many docs each stage would drop, and the final keep count —
    the numbers every curation run reports."""
    return [
        F.count("*").alias("n_docs"),
        F.sum(1 - F.col("quality_ok")).alias("drop_quality"),
        F.sum(1 - F.col("dedup_keep")).alias("drop_dup"),
        F.sum("contaminated").alias("drop_contaminated"),
        F.sum(1 - F.col("repetition_ok")).alias("drop_repetitive"),
        F.sum("span_dup").alias("drop_span_dup"),
        F.sum("semantic_dup").alias("drop_semantic_dup"),
        F.sum(1 - F.col("lm_ok")).alias("drop_lm"),
        F.sum("keep").alias("n_kept")]


def funnel_stats(annotated: DataFrame) -> DataFrame:
    """One row: the funnel stats of an annotated corpus."""
    return annotated.agg(*_stats_columns())


def run_curation(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Write the kept corpus partitioned by split, and return the funnel
    stats, observed on the write's own pass over the annotated corpus."""
    stats = Observation()
    (curate(spark, sf_dir).observe(stats, *_stats_columns())
        .filter(F.col("keep") == 1)
        .select("doc_id", "lang", "source", "split")
        .write.mode("overwrite").partitionBy("split").parquet(out_dir))
    return stats.get


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
