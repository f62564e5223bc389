"""Batch sinks (SURVEY.md S7/S12).

  * `write_warehouse` — the BigQuery-table analog: partitioned parquet
    (`partitionBy(date[, symbol])` reproduces the reference's BQ
    day-partitioning + symbol clustering, terraform/storage.tf:81-88),
    which is what makes partition pruning work on the read side.
  * `bulk_jsonl` — the MongoDB bulk writer analog
    (terraform/scripts/batch_to_mongo.py:262-291): `foreachPartition`,
    one JSONL file per partition (the reference's 1000-doc insert_many
    batches map to partition granularity), no driver involvement. The
    speed layer's document sinks write through it too.

Scale notes: both sinks write from executors; `write_warehouse` keeps
Catalyst in charge of file sizing (coalesce only if the caller asks).
"""

from __future__ import annotations

import itertools
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_warehouse(df: DataFrame, path: str,
                    partition_cols: tuple[str, ...] = (),
                    date_col: str | None = None,
                    mode: str = "overwrite",
                    rebalance: bool = False) -> None:
    """Partitioned parquet write; pass date_col to derive a `date`
    partition column from a timestamp (BQ day-partitioning analog).

    rebalance=True (r17, guide §6): cluster rows by the partition
    columns with an AQE REBALANCE hint before the write. Without it a
    narrow input (one scan task) writes every partition dir serially
    from a single task and each writing task opens one file PER
    partition value (the many-small-files trap); rebalanced, each
    partition value is written by its own task(s) — parallel, one
    right-sized file per dir — and AQE splits a skewed partition value
    instead of pinning it to one task (safe at any scale, unlike a
    plain repartition(cols))."""
    cols = list(partition_cols)
    if date_col is not None:
        df = df.withColumn("date", F.to_date(F.col(date_col)))
        cols = ["date"] + cols
    if rebalance and cols:
        df = df.hint("rebalance", *[F.col(c) for c in cols])
    w = df.write.mode(mode)
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_bucketed(df: DataFrame, table_name: str,
                   bucket_cols: tuple[str, ...], n_buckets: int = 32,
                   sort_cols: tuple[str, ...] = (),
                   mode: str = "overwrite") -> None:
    """Bucketed (hash-clustered) table write — the co-located-join
    primitive: two tables bucketed on the same key with the same bucket
    count join with ZERO exchanges (Catalyst reuses the bucketing as
    the join distribution). This is the at-rest layout a 100 TB
    deployment uses for its hot join keys; requires saveAsTable
    (bucket metadata lives in the catalog)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def bulk_jsonl(df: DataFrame, out_dir: str, prefix: str = "") -> None:
    """foreachPartition bulk writer: each non-empty partition streams
    its documents to one JSONL file (atomic rename). Callers writing
    repeatedly into one dir pass a distinct `prefix` per run — rewriting
    the SAME prefix is idempotent (replay-safe), a new prefix appends."""
    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def write_partition(idx: int, rows) -> None:
        first = next(rows, None)
        if first is None:
            return
        final = os.path.join(out_dir, f"{prefix}part-{idx:05d}.jsonl")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            for r in itertools.chain([first], rows):
                f.write(json.dumps(dict(zip(cols, r)), default=str))
                f.write("\n")
        os.replace(tmp, final)

    df.rdd.mapPartitionsWithIndex(
        lambda i, it: iter([write_partition(i, it)])).count()


TARGET_FILE_BYTES = 128 * 1024 * 1024  # match maxPartitionBytes


def compact_parquet(spark, path: str,
                    target_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite a parquet directory into ~target-size files; returns the
    new file count. The small-files maintenance op: streaming sinks and
    fine-grained incremental appends leave directories with thousands
    of KB-scale files, and at 100 TB listing + footer reads + per-file
    task overhead dominate scans of such directories.

    Sizing comes from the directory's ACTUAL bytes (filesystem
    metadata, no data read); the rewrite is one coalesce-free
    round-robin repartition so output files are uniformly sized even
    when the input files aren't. Writes to a sibling temp dir first and
    atomically swaps, so a reader never sees a half-compacted
    directory."""
    import shutil

    total = sum(os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path) for f in fs
                if f.endswith(".parquet"))
    n_files = max(1, -(-total // target_bytes))
    tmp = path.rstrip("/") + "._compact_tmp"
    (spark.read.parquet(path)
          .repartition(n_files)
          .write.mode("overwrite").parquet(tmp))
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
