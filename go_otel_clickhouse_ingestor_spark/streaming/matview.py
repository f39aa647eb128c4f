"""Incremental materialized-view maintenance — the streaming rollup
the reference's sink tables exist to serve, kept up to date per
micro-batch instead of recomputed per query.

The maintained view is the hourly event rollup (the batch twin is
``operators/windows.agg_windowed_time``): count + sum(value) per
(event_type, hour bucket).  Because the aggregate is ADDITIVE, each
micro-batch only needs:

1. its own partial aggregate (tiny — bounded by types × hours touched),
2. a read of the CURRENT rows for the touched event_type partitions
   (partition-pruned scan of the view, never the event history),
3. re-summation and a dynamic partition overwrite of just those
   partitions.

State is O(view), not O(stream): the raw events are never re-read.
This is the same id-bucketed MERGE discipline as
``cdc_stream.upsert_foreach_batch`` (A16) applied to additive
aggregation, on the same partition reader and per-write dynamic
overwrite (``lake_state.py``), so the view dir may be any Hadoop path
or URI — at 100 TB the view partitions by (event_type, day) and a
batch rewrites only the slivers it touched.  A transactional
lake-format MERGE replaces the file dance in production; the
incremental-combine strategy is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lake_state import overwrite_partitions, read_partitions


def hourly_rollup(batch_df: DataFrame) -> DataFrame:
    """The per-batch partial aggregate of the maintained view."""
    return (
        batch_df.groupBy(
            F.col("event_type"),
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
    )


def matview_foreach_batch(view_dir: str):
    """foreachBatch maintainer: combine each micro-batch's partial
    aggregate into the stored view, rewriting only touched event_type
    partitions.  Replays of the same batch are NOT idempotent for
    additive aggregates — exactly-once for this sink comes from the
    checkpoint's batch-id dedup (foreachBatch re-delivers a batch only
    after a failure BEFORE the checkpoint commit, and the overwrite of
    the touched partitions is atomic per partition), the same
    guarantee Structured Streaming documents for idempotent sinks.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = hourly_rollup(batch_df)
        touched = [r.event_type for r in partial.select("event_type").distinct().collect()]
        if not touched:
            return
        existing = read_partitions(spark, view_dir, "event_type", touched)
        merged = partial if existing is None else existing.unionByName(partial)
        combined = (
            merged.groupBy("event_type", "bucket_us")
            .agg(F.sum("n").alias("n"), F.sum("total_value").alias("total_value"))
            .localCheckpoint(eager=True)  # cut self-referential lineage pre-overwrite
        )
        overwrite_partitions(combined, view_dir, "event_type")

    return apply
