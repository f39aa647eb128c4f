"""Sustained-ingest throughput: the BASELINE.md floor, measured.

The reference's only quantitative performance fact is its synthetic
pacing default — 5 events/sec (``cmd/root.go:65``) — with a
row-at-a-time HTTP INSERT per message as the architectural ceiling.
This tool measures the engine's counterpart end-to-end: the
``cdc_feed`` partition-planned stream source → the UNMODIFIED
parse/translate pipeline (double-encode fallback, malformed drop,
op→enum, µs→ts — every reference branch) → parquet lake sink, via a
real Structured Streaming query with a checkpoint, and reports
messages/sec of wall clock.

Usage: python tools/ingest_bench.py [n_messages] [partitions]
Prints one JSON line:
  {"metric": "cdc_ingest_throughput", "n_messages": N,
   "wall_sec": S, "events_per_sec": R, "rows_out": M, ...}

``rows_out`` < ``n_messages`` by design: every 13th message is corrupt
and must be dropped by the malformed filter — the throughput number
charges the engine for processing them anyway.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_messages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_parts = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from go_otel_clickhouse_ingestor_spark.session import get_spark
    from go_otel_clickhouse_ingestor_spark.sources.cdc_feed import register
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
        shape_kafka_raw,
        translate_stream,
    )

    spark = get_spark("ingest-bench")
    register(spark)
    per_part = -(-n_messages // n_parts)  # ceil

    work = tempfile.mkdtemp(prefix="ingest_bench_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    try:
        raw = (
            spark.readStream.format("cdc_feed")
            .option("partitions", n_parts)
            .option("available", per_part)
            .load()
        )
        t0 = time.time()
        q = (
            translate_stream(shape_kafka_raw(raw))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        rows_out = spark.read.parquet(sink).count()
        n_in = per_part * n_parts
        print(
            json.dumps(
                {
                    "metric": "cdc_ingest_throughput",
                    "n_messages": n_in,
                    "partitions": n_parts,
                    "wall_sec": round(wall, 2),
                    "events_per_sec": round(n_in / wall),
                    "rows_out": rows_out,
                    "reference_floor_eps": 5,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
