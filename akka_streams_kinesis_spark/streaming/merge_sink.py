"""Continuously-maintained keyed state table: streaming CDC →
foreachBatch latest-wins MERGE into a bucket-partitioned parquet table.

The batch twin (`operators/maintenance.py::merge_upsert_path`) applies
one change batch; this sink runs the same merge once per micro-batch,
so the table converges to latest-state-per-key as the stream drains:

- per batch, reduce the batch to its latest row per key (map-side
  shrink: the shuffle carries one row per (key, batch), not per event);
- read back ONLY the table partitions (key buckets) the batch touches
  (broadcast semi-join on the bucket column → partition-pruned scan);
- resolve latest-wins by (ts, event_id) — an associative, commutative,
  idempotent rule, so the final table is independent of how the stream
  was chopped into micro-batches AND stable under at-least-once
  redelivery (a replayed batch rewrites the same bytes);
- dynamic-partition-overwrite the touched buckets.

At 100 TB the rewrite unit is the key bucket: a trickle of changes per
trigger touches few buckets, and merge cost per batch is
O(|touched buckets|), never O(table).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

_N_BUCKETS = 16


def _latest_in_batch(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_ts_us"),
            (F.col("user_id") % _N_BUCKETS).alias("bucket"),
        )
    )


def user_state_merger(spark: SparkSession, path: str):
    """The per-micro-batch latest-wins merge into the user-state table at
    ``path``, for ``drain(events, user_state_merger(spark, path))``."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        state = _latest_in_batch(batch_df)
        # dynamic partition overwrite never writes a root _SUCCESS marker
        # (the rollup_sink lesson, re-learned the hard way: an _SUCCESS
        # check here made every batch skip the merge, so each batch's
        # dynamic overwrite silently dropped prior batches' users in its
        # buckets — invisible at SFs where the drain is one micro-batch,
        # caught by the widened sf1 canary). Table existence is "any
        # bucket= directory present".
        has_table = os.path.isdir(path) and any(
            e.startswith("bucket=") for e in os.listdir(path)
        )
        if has_table:
            touched = state.select("bucket").distinct()
            existing = (
                spark.read.option("basePath", path)
                .parquet(path)
                .join(F.broadcast(touched), "bucket")
            )
            w = Window.partitionBy("user_id").orderBy(
                F.col("last_ts_us").desc(), F.col("last_event_id").desc()
            )
            state = (
                existing.unionByName(state)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        (
            state.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )

    return _merge
