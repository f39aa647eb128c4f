"""Streaming CDC pipeline — the reference's second mode (A3-A13).

Reference: a Kafka consumer-group loop reads Debezium envelopes one
message at a time (``internal/ingestion/cdc.go:25-85``), translates,
and POSTs row-by-row to ClickHouse; a failed insert is *lost* (offset
already committed).

Spark translation: ``readStream.format("kafka")`` → the exact same
column-expression translation the batch path uses
(``operators/cdc.py`` — one codebase, two execution modes) →
``foreachBatch`` sink with checkpointing.  Delivery is therefore
at-least-once with batch retry — strictly stronger than the
reference's drop-on-error.

The Kafka source itself needs brokers, so tests exercise the pipeline
through a file/memory source with the same (key, value) schema; the
``kafka_cdc_stream`` wiring is the production entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import parse_envelope, translate_envelope
from .lake_state import drop_partitions, overwrite_partitions, read_partitions


def translate_stream(kafka_shaped: DataFrame) -> DataFrame:
    """(msg_id, key string, value string) stream -> users_cur rows.
    Pure column expressions — runs identically in batch and streaming
    (same whole-stage-codegen plan, no state)."""
    return translate_envelope(parse_envelope(kafka_shaped))


#: The fixed schema Spark's Kafka source emits (spark-sql-kafka);
#: tests build raw frames with exactly this schema so the projection
#: below is exercised without a broker and fails loudly on drift.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_source_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option map handed to ``readStream.format("kafka")`` —
    kept as data (not inline builder calls) so tests can assert it and
    ops can log it.  maxOffsetsPerTrigger is the backpressure knob the
    reference's consumer loop lacked (``cdc.go:36-43``)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # on executor failure mid-batch, refuse silent data loss — the
        # checkpoint replays the range instead (at-least-once, A13)
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def shape_kafka_raw(raw: DataFrame) -> DataFrame:
    """Kafka's (key binary, value binary, offset, ...) -> the
    (msg_id, key string, value string) contract every downstream stage
    (and every file/memory-source test) consumes.  Pure projection:
    works identically on a streaming or batch frame."""
    return raw.select(
        F.col("offset").alias("msg_id"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def kafka_cdc_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production wiring: Kafka source -> users_cur stream.

    Spark's Kafka source replaces the reference's consumer group
    (``cdc.go:36-43``): offsets live in the checkpoint (not Kafka),
    partitions fan out across executors, and maxOffsetsPerTrigger is
    the backpressure knob the Go loop lacked."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        brokers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return translate_stream(shape_kafka_raw(reader.load()))


#: Hash buckets for the parquet state layout.  At 100 TB this number
#: scales with state size (e.g. 4096); per micro-batch only the buckets
#: a batch's ids hash into are read and rewritten.
N_STATE_BUCKETS = 16


def upsert_foreach_batch(state_dir: str):
    """A16 online: a foreachBatch MERGE maintaining the versions +
    current-state tables (latest ``_lsn`` per id, soft deletes kept as
    versions), id-bucketed so per-batch work is O(touched state), not
    O(total state).

    Layout: ``versions/`` and ``current/`` are parquet partitioned by
    ``bucket = pmod(xxhash64(id), N_STATE_BUCKETS)``.  Each micro-batch:

    1. finds the buckets its ids hash into (bounded by
       ``N_STATE_BUCKETS``),
    2. reads ONLY those partitions (partition-pruned scan), unions the
       new rows, dedupes exact replays (idempotent under the
       at-least-once retry), and
    3. rewrites ONLY those partitions via dynamic partition overwrite —
       a poor man's ``MERGE INTO``; untouched buckets are never read
       or written.

    Crash-safety: versions is updated before current, so a crash
    between the two leaves a stale-but-consistent current that the next
    batch's recompute repairs; a crash mid-overwrite of a bucket is
    repaired by the streaming retry of the same batch (dedup makes the
    replay idempotent).  A real deployment swaps this file dance for a
    transactional lake-format MERGE; the bucketing strategy is the same.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from ..operators.cdc import current_state

        bucket = F.pmod(F.xxhash64("id"), F.lit(N_STATE_BUCKETS))
        batch = batch_df.withColumn("bucket", bucket)
        touched = [r.bucket for r in batch.select("bucket").distinct().collect()]
        if not touched:
            return
        versions_dir = state_dir + "/versions"
        existing = read_partitions(spark, versions_dir, "bucket", touched)
        merged = existing.unionByName(batch) if existing is not None else batch
        # localCheckpoint: materializes the merged buckets and cuts the
        # lineage back to versions_dir, so the overwrite below is not
        # reading the path it writes.
        merged = merged.dropDuplicates().localCheckpoint(eager=True)
        overwrite_partitions(merged, versions_dir, "bucket")
        cur = current_state(merged).withColumn("bucket", bucket)
        overwrite_partitions(cur, state_dir + "/current", "bucket")
        # a touched bucket whose last live id was just deleted produces
        # no current rows, so its stale partition is dropped explicitly
        # (a lake-format MERGE/DELETE subsumes this)
        live = {r.bucket for r in cur.select("bucket").distinct().collect()}
        drop_partitions(spark, state_dir + "/current", "bucket", set(touched) - live)

    return apply
