"""Streaming sinks (SURVEY.md S3/S7/S11/S12/S16, T8/T9).

  * `start_capture_sink` — stream→file capture, the Pub/Sub→GCS Avro
    subscription analog (terraform/batch_storage.tf:28-99): parquet
    append with a checkpoint = exactly-once file capture.
  * `start_jsonl_sink` — the MongoDB document-sink analog
    (stream_join.py:155-203 per-doc; batch_to_mongo.py:262-291 bulk):
    `foreachBatch` → the batch layer's `sinks.bulk_jsonl`. Files are named
    (batch_id, partition_id), so replayed batches overwrite rather than
    duplicate — the idempotent upsert that turns the checkpoint's
    at-least-once into effectively-once (T9), and strictly better than
    the reference's swallow-errors insert_one.
  * Running both on one upstream DF is the reference's multi-sink
    fan-out (T8): independent queries, independent checkpoints.

Scale notes: the bulk writer batches per partition (the reference's
1000-doc insert_many chunking maps to partition granularity) and never
routes data through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sinks import bulk_jsonl


def start_capture_sink(df: DataFrame, out_dir: str, checkpoint: str,
                       trigger_once: bool = True) -> StreamingQuery:
    """Stream→parquet capture with checkpointed exactly-once semantics."""
    w = (df.writeStream.format("parquet")
           .option("path", out_dir)
           .option("checkpointLocation", checkpoint)
           .outputMode("append"))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def start_jsonl_sink(df: DataFrame, out_dir: str, checkpoint: str,
                     trigger_once: bool = True) -> StreamingQuery:
    """Each micro-batch goes through the batch layer's `bulk_jsonl`,
    files prefixed with its batch id: a replayed batch rewrites its
    own files."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        bulk_jsonl(batch_df, out_dir, prefix=f"batch{batch_id}-")

    w = (df.writeStream.foreachBatch(write_batch)
           .option("checkpointLocation", checkpoint)
           .outputMode("append"))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def start_dq_monitor(df: DataFrame, out_dir: str, checkpoint: str,
                     checks=None):
    """Per-microbatch data-quality monitor (the streaming form of
    queries/quality.py): foreachBatch runs the single-scan
    conditional-aggregate check pass on every batch and appends one
    parquet row per (batch_id, check) — the audit trail a streaming
    ingest keeps next to its data. Check rows are tiny (bounded by
    checks × batches); the batch itself is scanned once, never
    collected. Replayed batches overwrite their own (batch_id-named)
    file, so at-least-once redelivery stays idempotent (T9 discipline,
    same as the JSONL sink)."""
    from pyspark.sql import functions as F

    from ..queries.quality import dq_events_checks
    check_fn = checks or dq_events_checks

    def audit(batch_df: DataFrame, batch_id: int) -> None:
        (check_fn(batch_df)
         .withColumn("batch_id", F.lit(batch_id))
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={batch_id}"))

    return (df.writeStream.foreachBatch(audit)
              .option("checkpointLocation", checkpoint)
              .start())
