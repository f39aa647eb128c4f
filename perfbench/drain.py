"""``cdc_drain``: closed-loop drains of a staged Debezium backlog.

Not one of BENCHMARK.json's workloads (the driver's time budget holds
three); the traced run of ``cdc_upsert_zipf`` drains once and reports
the figures below as per-layer context, and ``--workload cdc_drain``
runs the full workload by hand.

Each drain is one ``availableNow`` query over the same staged backlog
(uniform keys, the stager's full branch mix) through ``translate_stream``
into ``parquet_foreach_batch`` — the ingestor's ``--source-dir`` path
with no state and no shuffle.  Drains repeat, each with a fresh sink and
checkpoint, until the window closes; throughput is the median over
drains of messages (corrupt ones included) per wall second.  An event's
latency is the commit time of its batch minus the drain's start: how
long a backlog takes to become visible.
"""

from __future__ import annotations

import os
import time

import harness
from harness import CACHE, SinkProbe, commit_time, data_batches, stream_layer_metrics
from spans import span
from stage import SOURCE_SCHEMA, branch_flags, stage_backlog
from stats import median

N_MSG = 50_000
PER_FILE = 6_250


def start_drain(spark, src: str, out: str, probe: SinkProbe):
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import translate_stream
    from go_otel_clickhouse_ingestor_spark.streaming.sinks import parquet_foreach_batch

    raw = spark.readStream.schema(SOURCE_SCHEMA).json(src)
    return (
        translate_stream(raw)
        .writeStream.foreachBatch(probe.wrap(parquet_foreach_batch(f"{out}/sink")))
        .option("checkpointLocation", f"{out}/ckpt")
        .trigger(availableNow=True)
        .start()
    )


def drain_once(spark, src: str, out: str, probe: SinkProbe, tracer=None, k: int = 0):
    """One timed drain: (start, end, data-carrying progresses, error)."""
    from pyspark.errors import StreamingQueryException

    t0 = time.time()
    with span(tracer, "cdc_drain.query", f"drain-{k}"):
        q = start_drain(spark, src, out, probe)
        try:
            q.awaitTermination()
        except StreamingQueryException:
            pass  # returned from q.exception()
    return t0, time.time(), data_batches(q), q.exception()


def expected_digest(spark, path: str) -> tuple:
    """The batch translation of the same input, shaped as the sink
    writes it."""
    from checks import digest
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import translate_stream
    from go_otel_clickhouse_ingestor_spark.streaming.sinks import clickhouse_shape

    return digest(clickhouse_shape(translate_stream(spark.read.schema(SOURCE_SCHEMA).json(path))))


def run(ctx, res, tracer=None) -> None:
    from checks import digest

    spark, work = ctx.spark, ctx.work
    staged = stage_backlog(CACHE, "drain", ctx.seed, N_MSG, PER_FILE)
    kept = [i for i in range(staged.first, staged.first + staged.n) if branch_flags(i)["kept"]]

    # Reference first: it also warms the JSON-parse and translate code.
    want = expected_digest(spark, staged.path)
    res.check(
        "cdc_drain.reference_drops",
        want[0] == len(kept) and want[2] == sum(kept),
        f"batch translate kept {want[0]} rows, msg_id sum {want[2]}; "
        f"expected {len(kept)} / {sum(kept)}",
    )

    probe = SinkProbe("streaming.sinks.parquet_foreach_batch", tracer)
    drains, latencies, progresses = [], [], []
    t_end = time.time() + ctx.seconds
    while not drains or time.time() < t_end:
        out = os.path.join(work, f"drain-{len(drains)}")
        t0, t1, prog, err = drain_once(spark, staged.path, out, probe, tracer, len(drains))
        if err is not None:
            break
        drains.append((t0, t1, out))
        progresses += prog
        for p in prog:
            latencies += [commit_time(p) - t0] * p.numInputRows

    for k, (_, _, out) in enumerate(drains):
        got = digest(spark.read.parquet(f"{out}/sink"))
        res.check(f"cdc_drain.sink_equals_batch_translate[{k}]", got == want, f"{got} != {want}")
    rows_in = sum(p.numInputRows for p in progresses)
    res.check(
        "cdc_drain.every_message_committed",
        rows_in == N_MSG * len(drains) and len(drains) > 0,
        f"{rows_in} rows over {len(drains)} drains",
    )
    res.stream_outcome("cdc_drain", probe, err)
    if not drains:
        return

    eps = [N_MSG / (t1 - t0) for t0, t1, _ in drains]
    res.e2e["throughput_per_s"] = median(eps)
    res.latency(latencies, 99)
    res.named["ingest_eps"] = (res.e2e["throughput_per_s"], "events/s")
    res.info["drains"] = len(drains)
    window = drains[-1][1] - drains[0][0]
    busy = probe.durations()
    res.layers.update(stream_layer_metrics(progresses))
    res.layers.update({
        "sink.write_p50_s": median(busy),
        "sink.busy_frac": sum(busy) / window,
        "sink.rows_per_busy_s": rows_in / sum(busy),
        "sink.failed_batches": probe.failed,
        "cdc.parse_ok_ratio": len(kept) / N_MSG,
    })
    res.layers["cdc_drain.eps"] = res.e2e["throughput_per_s"]


def translate_eps(spark, path: str, reps: int = 3) -> float:
    """parse_envelope + translate_envelope over the staged corpus into
    the ``noop`` sink (no write cost), median of ``reps``."""
    from go_otel_clickhouse_ingestor_spark.operators.cdc import (
        parse_envelope,
        translate_envelope,
    )

    times = []
    for _ in range(reps):
        t = time.time()
        raw = spark.read.schema(SOURCE_SCHEMA).json(path)
        translate_envelope(parse_envelope(raw)).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t)
    return N_MSG / median(times)


def figures(ctx, res, tracer=None) -> dict[str, float]:
    """One checked drain (its parquet-sink figures included), the noop
    translate rate and the local[1] drain — the traced-run context
    figures of the stateless CDC path.  Restarts the session, so it runs
    last."""
    drain = harness.Result()
    ctx.seconds = 0  # exactly one drain
    run(ctx, drain, tracer)
    res.checks += drain.checks
    res.problems += drain.problems
    res.attempted += drain.attempted
    res.failed += drain.failed
    return {
        **{k: v for k, v in drain.layers.items()
           if k.startswith(("sink.", "cdc_drain.eps", "cdc.parse_ok_ratio"))},
        **context_metrics(ctx, res, tracer),
    }


def single_core_eps(ctx, res) -> float:
    """One drain of the same backlog on ``local[1]``: the single-thread
    baseline.  Restarts the session, so it runs last."""
    from go_otel_clickhouse_ingestor_spark.session import get_spark

    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark("perfbench-local1")
    staged = stage_backlog(CACHE, "drain", ctx.seed, N_MSG, PER_FILE)
    probe = SinkProbe("streaming.sinks.parquet_foreach_batch")
    t0, t1, _, err = drain_once(spark, staged.path, os.path.join(ctx.work, "local1"), probe)
    res.stream_outcome("cdc_drain on local[1]", probe, err)
    return N_MSG / (t1 - t0)


def context_metrics(ctx, res, tracer=None) -> dict[str, float]:
    """The noop translate rate and the local[1] drain (runs last)."""
    staged = stage_backlog(CACHE, "drain", ctx.seed, N_MSG, PER_FILE)
    return {
        "cdc.translate_eps": translate_eps(ctx.spark, staged.path),
        "cdc_drain.single_core_eps": single_core_eps(ctx, res),
    }
