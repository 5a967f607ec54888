"""Structured Streaming ingestion into the encoded stripe table.

A 10^12-sequence corpus is not loaded in one batch — it lands
continuously.  This module runs the SAME stripe-encode kernel inside a
Structured Streaming query:

* ``encode_stream``: file-source stream of token rows ->
  ``foreachBatch`` stripe-encode -> append to the stripes dir.
  Exactly-once at the micro-batch level comes from Spark's streaming
  checkpoint (offset log + idempotent batch ids recorded to an audit
  subdir); this composes with the partition-level resume of
  operators.checkpoint for backfills.
* ``token_rate_metrics``: watermarked windowed aggregation over an
  event-time column — the live metrics feed (tokens/sec, bytes/token
  per window) for the audit table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import encode as enc_ops
from ..operators.checkpoint import read_parquet_if_exists
from ..stripe import DEFAULT_CODEC as stripe_DEFAULT_CODEC,  TOKEN_SCHEMA


def encode_stream(spark: SparkSession, input_path: str, out_dir: str,
                  specs=TOKEN_SCHEMA, codec: str = stripe_DEFAULT_CODEC,
                  stripe_rows: int = 1 << 16,
                  trigger_available_now: bool = True,
                  max_files_per_trigger: int = 32):
    """Start (and return) a streaming query that encodes arriving
    parquet files of token rows into stripe-table parquet."""
    schema = enc_ops.decoded_spark_schema(specs)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))
    stripes_path = os.path.join(out_dir, "stripes")
    audit_path = os.path.join(out_dir, "stream_audit")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_s = batch_df.sparkSession
        # idempotency: a batch re-delivered after a crash-between-
        # commit-and-checkpoint must not append twice — the audit
        # table records completed batch ids and is consulted first
        audit = read_parquet_if_exists(spark_s, audit_path)
        if audit is not None and \
                audit.where(F.col("batch_id") == batch_id).count() > 0:
            return
        encoded = enc_ops.encode(batch_df, specs, stripe_rows=stripe_rows,
                                 codec=codec)
        encoded = encoded.withColumn("batch_id", F.lit(batch_id))
        # dynamic overwrite of THIS batch's partition: a replay that
        # slipped past the audit check (crash between stripe write and
        # audit write) REPLACES its own output instead of appending a
        # duplicate — idempotence from the layout, not just the check
        # (a per-write option: the caller's session conf is untouched)
        encoded.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("batch_id").parquet(stripes_path)
        # audit aggregates read back the WRITTEN files: one execution
        # of the encode kernel per batch, not two
        (spark_s.read.parquet(stripes_path)
         .where(F.col("batch_id") == batch_id)
         .groupBy("batch_id")
         .agg(F.sum("n_rows").alias("n_rows"),
              F.sum("n_tokens").alias("n_tokens"),
              F.sum("enc_bytes").alias("enc_bytes"))
         .withColumn("committed_at", F.current_timestamp())
         .write.mode("append").parquet(audit_path))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(out_dir, "ckpt")))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def token_rate_metrics(events: DataFrame, ts_col: str = "ts",
                       weight_col: str = "value",
                       window: str = "1 minute",
                       watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed throughput metrics over an event stream
    (late data beyond the watermark is dropped deterministically)."""
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(weight_col).alias("weight"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_events", "weight"))
