"""Training-data export — the pipeline's last mile: curated survivors
→ deterministic global shuffle → sharded JSONL training files.

Completes the curation story (jobs/curate.py writes kept ids per
split): pretraining consumes the TRAIN split as sharded files in
pseudo-random order, and this job produces exactly that layout with
no global sort and full reproducibility:

  1. survivors: id equi-join of the curated train split against the
     documents table (ids only move through the join).
  2. shuffle_shards (queries/sampling.py): every doc gets a
     (shard, position) from the portable 60-bit hash — the shuffled
     order is a pure function of doc_id, so re-runs and engine moves
     reproduce byte-identical shards.
  3. layout: repartition BY SHARD (each shard lives wholly in one
     task), sort within partitions by (shard, position), write JSONL
     partitioned by shard — one ordered file per shard, rows in
     shuffle order. At 100 TB, n_shards is sized so a shard fits an
     executor; no stage ever holds a global order.

Run: python -m big_data_crypto_sentiment_spark.jobs.export_training \
       --sf-dir /root/testdata/sf0.001 --curated-dir /tmp/curated \
       --out-dir /tmp/shards [--n-shards 8]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import literal_map
from ..queries.sampling import shuffle_shards


def export_training(spark: SparkSession, sf_dir: str, curated_dir: str,
                    out_dir: str, n_shards: int = 8) -> int:
    """Write the curated train split as n_shards ordered JSONL shards;
    returns the number of exported documents."""
    from ..catalog import load
    kept = (spark.read.parquet(curated_dir)
                 .filter(F.col("split") == "train")
                 .select("doc_id"))
    docs = load(spark, "documents", sf_dir) \
        .join(kept, "doc_id").select("doc_id", "source", "text")
    order = shuffle_shards(docs.select("doc_id"), "doc_id", n_shards)
    out = (docs.join(order, "doc_id")
               .repartition(n_shards, "shard")
               .sortWithinPartitions("shard", "position")
               .select("shard", "position", "doc_id", "source", "text"))
    out.write.mode("overwrite").partitionBy("shard").json(out_dir)
    return spark.read.json(out_dir).count()


def export_packed(spark: SparkSession, sf_dir: str, curated_dir: str,
                  out_dir: str, seq_len: int = 128,
                  n_shards: int = 4) -> dict:
    """Tensor-ready export — the full last mile: curated train docs →
    BPE tokens → vocab ids → FIXED-LENGTH packed id sequences →
    parquet shards. What a pretraining loader mmaps.

    Determinism end to end: the tokenizer trains on the survivors'
    word dict (capped, driver artifact), the vocab id table is a pure
    function of the trained tokenizer (id 0 reserved UNK/PAD; then the
    sorted initial alphabet; then merge outputs in rank order,
    first-wins on collisions), doc order inside a shard is the
    portable-hash shuffle — so re-runs emit byte-identical shards.

    Scale shape: tokenize is the zero-shuffle Arrow encode; packing is
    ONE cumulative window per shard (token offsets) + ONE shuffle on
    (shard, seq) to regroup token rows into sequences; each shard
    packs independently, so n_shards bounds every task's state. The
    tail remainder of each shard (< seq_len ids) is dropped and
    COUNTED — silent truncation reads as coverage."""
    from pyspark.sql import Window

    from ..catalog import load
    from ..queries.bpe import (
        BPE_MERGES,
        END,
        bpe_encode,
        bpe_word_counts,
        reference_bpe,
    )
    kept = (spark.read.parquet(curated_dir)
                 .filter(F.col("split") == "train")
                 .select("doc_id"))
    docs = load(spark, "documents", sf_dir) \
        .join(kept, "doc_id").select("doc_id", "text")
    wc, truncated = bpe_word_counts(docs)
    merges = reference_bpe(wc, BPE_MERGES)
    enc = bpe_encode(docs, merges, known_words=wc)

    alphabet = sorted({ch for w in wc for ch in w} | {END})
    vocab: dict[str, int] = {}
    for s in alphabet + [m[3] for m in merges]:
        if s not in vocab:
            vocab[s] = len(vocab) + 1          # 0 = UNK/PAD
    vmap = literal_map(vocab)
    ids = (enc.select(
        "doc_id",
        F.transform(F.col("tokens"),
                    lambda t: F.coalesce(vmap[t], F.lit(0)))
         .cast("array<int>").alias("ids")))

    order = shuffle_shards(ids.select("doc_id"), "doc_id", n_shards)
    w = (Window.partitionBy("shard").orderBy("position")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    placed = (ids.join(order, "doc_id")
                 .withColumn("_end", F.sum(F.size("ids")).over(w))
                 .withColumn("_off", F.col("_end") - F.size("ids")))
    tok = (placed.select(
        "shard", "doc_id",
        F.posexplode("ids").alias("pos", "tid"),
        (F.col("_off")).alias("off"))
        .select("shard", "doc_id", "tid",
                (F.col("off") + F.col("pos")).alias("gpos")))
    seqs = (tok.withColumn("seq", F.expr(f"gpos div {seq_len}"))
               .groupBy("shard", "seq")
               .agg(F.array_sort(
                        F.collect_list(F.struct("gpos", "tid")))
                     .alias("_s"),
                    F.count_distinct("doc_id").alias("n_docs"))
               .select("shard", "seq",
                       F.transform("_s", lambda s: s["tid"])
                        .alias("input_ids"), "n_docs")
               .filter(F.size("input_ids") == seq_len))
    (seqs.repartition(n_shards, "shard")
         .sortWithinPartitions("shard", "seq")
         .write.mode("overwrite").partitionBy("shard").parquet(out_dir))
    # accounting from DOC-level sizes (one agg) + the written output —
    # never a second pass over the token-level explode
    acc = placed.agg(F.count(F.lit(1)).alias("docs"),
                     F.sum(F.size("ids")).alias("tokens")).first()
    n_seq = spark.read.parquet(out_dir).count()
    n_tokens = int(acc["tokens"] or 0)
    return {"docs": int(acc["docs"]), "tokens": n_tokens,
            "sequences": int(n_seq), "seq_len": seq_len,
            "dropped_tail_tokens": n_tokens - int(n_seq) * seq_len,
            "vocab_size": len(vocab) + 1,
            "word_dict_truncated": bool(truncated)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--curated-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--packed", action="store_true",
                    help="emit fixed-length packed id sequences "
                         "instead of JSONL text shards")
    ap.add_argument("--seq-len", type=int, default=128)
    args = ap.parse_args()
    from ..session import get_spark
    spark = get_spark("export-training")
    if args.packed:
        stats = export_packed(spark, args.sf_dir, args.curated_dir,
                              args.out_dir, args.seq_len, args.n_shards)
        print(stats)
    else:
        n = export_training(spark, args.sf_dir, args.curated_dir,
                            args.out_dir, args.n_shards)
        print(f"exported {n} docs to {args.out_dir}")


if __name__ == "__main__":
    main()
