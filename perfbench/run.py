"""Ingest-first benchmark of the Spark ingestor.

    python3 perfbench/run.py --workload cdc_upsert_zipf --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- ``cdc_upsert_zipf``  open loop of Zipf-keyed CDC files into the
                       bucketed upsert state, from a pre-built state;
- ``synthetic_jdbc``   open loop of the synthetic rate source into
                       embedded Derby over JDBC;
- ``query_mix``        closed loop, one client, a seeded shuffle of
                       twelve registry queries;
- ``cdc_drain``        closed-loop drains of a staged Debezium backlog
                       into the parquet sink.  Not in BENCHMARK.json: a
                       run of every workload must fit the time the whole
                       benchmark may take, so its figures come as context
                       in the traced run of ``cdc_upsert_zipf``.

Every run checks the program's outputs, prints each metric by name with
its unit, records the run in ``perfbench/_results/``, and ends with one
JSON line.  ``--trace 0`` reports the end-to-end metrics.  ``--trace 1``
measures with spans recorded around the calls into each module and
reports the per-layer metrics, each layer's self time and
``trace.overhead_frac`` — the traced throughput against untraced passes
made just before and just after it in the same session.  A per-layer
metric is 0 only on a workload whose path never reaches that layer
(``UNREACHED``); one that a run fails to produce anywhere else is an
error.  A failed check prints ``"correct": false`` with no metrics and
exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

#: workload -> the module in this directory that runs it
WORKLOADS = {
    "cdc_drain": "drain",
    "cdc_upsert_zipf": "upsert",
    "synthetic_jdbc": "jdbc",
    "query_mix": "querymix",
}

#: workload -> per-layer metric name prefixes its path never reaches.
UNREACHED = {
    "cdc_drain": ("query.", "synthetic.", "upsert.", "gen.", "cdc.current_state_s",
                  "self.streaming.synthetic_s", "self.operators_s"),
    "cdc_upsert_zipf": ("query.", "synthetic.", "self.streaming.synthetic_s",
                        "self.operators_s"),
    "synthetic_jdbc": ("query.", "cdc.", "cdc_drain.", "upsert.", "gen.late_",
                       "self.streaming.cdc_stream_s", "self.operators.cdc_s",
                       "self.operators_s", "self.bench_s"),
    "query_mix": ("stream.", "sink.", "cdc.", "cdc_drain.", "upsert.", "gen.", "synthetic.",
                  "self.streaming."),
}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def self_time_by_module(self_times: dict[str, float]) -> dict[str, float]:
    """Roll span self times up to the program's modules: a span named
    ``<module>.<function>`` counts to ``<module>``, a registry query's
    build and execution count to ``operators``; the benchmark's own
    wrapper spans count to ``bench``."""
    out: dict[str, float] = {}
    for name, secs in self_times.items():
        if name.startswith("query."):
            module = "operators"
        elif name.startswith(("session.", "registry.", "streaming.", "operators.")):
            module = name.rsplit(".", 1)[0]
        else:
            module = "bench"
        out[f"self.{module}_s"] = out.get(f"self.{module}_s", 0.0) + secs
    return out


class Context:
    def __init__(self, args, setup, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = setup.spark
        self.registry = setup.registry
        self.work = work


def traced_calls(tracer):
    """Patch the program's module-level functions that other modules
    call by name, so each call is recorded as a span."""
    from go_otel_clickhouse_ingestor_spark.operators import cdc
    from go_otel_clickhouse_ingestor_spark.streaming import cdc_stream, sinks, synthetic
    from spans import patched

    stack = contextlib.ExitStack()
    for module, attr, name in (
        (cdc_stream, "parse_envelope", "operators.cdc.parse_envelope"),
        (cdc_stream, "translate_envelope", "operators.cdc.translate_envelope"),
        (cdc_stream, "translate_stream", "streaming.cdc_stream.translate_stream"),
        (cdc_stream, "upsert_foreach_batch", "streaming.cdc_stream.upsert_foreach_batch"),
        (cdc, "current_state", "operators.cdc.current_state"),
        (sinks, "clickhouse_shape", "streaming.sinks.clickhouse_shape"),
        (sinks, "parquet_foreach_batch", "streaming.sinks.parquet_foreach_batch"),
        (sinks, "jdbc_foreach_batch", "streaming.sinks.jdbc_foreach_batch"),
        (synthetic, "synthetic_events", "streaming.synthetic.synthetic_events"),
    ):
        stack.enter_context(patched(module, attr, tracer, name))
    return stack


def measure(mod, ctx, tracer=None):
    res = harness.Result()
    mod.run(ctx, res, tracer)
    return res


def traced_run(mod, ctx, tracer):
    """Untraced, traced and untraced passes in one session, so JVM
    warm-up favours neither side; the traced throughput's shortfall
    against the mean of the two untraced ones; then the workload's
    context numbers.  Every pass's checks and operations count."""
    root = ctx.work
    res = harness.Result()

    def untraced(k: int):
        ctx.work = harness.fresh_dir(os.path.join(root, f"pass-{k}"))
        plain = measure(mod, ctx)
        res.checks += plain.checks
        res.problems += plain.problems
        res.attempted += plain.attempted
        res.failed += plain.failed
        return plain.e2e.get("throughput_per_s")

    before = untraced(0)
    ctx.work = harness.fresh_dir(os.path.join(root, "pass-1"))
    with traced_calls(tracer):
        mod.run(ctx, res, tracer)
    after = untraced(2)
    if before and after and "throughput_per_s" in res.e2e:
        res.layers["trace.overhead_frac"] = 1 - res.e2e["throughput_per_s"] / ((before + after) / 2)
    ctx.work = harness.fresh_dir(os.path.join(root, "context"))
    with traced_calls(tracer):
        res.layers.update(mod.context_metrics(ctx, res, tracer))
    return res


def stop_session() -> None:
    """Stop the active session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    process_start = harness.process_start_time()
    e2e_units, layer_units = declared_metrics()
    run_dir = harness.fresh_dir(os.path.join(harness.WORK, f"{args.workload}-{os.getpid()}"))
    harness.configure_env(run_dir)
    context = harness.run_context()

    from spans import Tracer

    tracer = Tracer() if args.trace else None
    try:
        setup = harness.Setup(process_start, tracer)
        pids = [os.getpid(), harness.jvm_pid(setup.spark)]
        mod = importlib.import_module(WORKLOADS[args.workload])
        ctx = Context(args, setup, run_dir)
        if tracer is None:
            res = measure(mod, ctx)
        else:
            res = traced_run(mod, ctx, tracer)
        peak_mb = harness.peak_rss_mb(pids)
    finally:
        stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)

    res.e2e["setup_s"] = setup.setup_s
    res.named["peak_rss_mb"] = (peak_mb, "MB")
    res.layers["mem.peak_rss_mb"] = peak_mb
    res.layers["session.get_spark_s"] = setup.get_spark_s
    res.layers["registry.load_all_s"] = setup.load_all_s
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **context, "checks": res.checks, "problems": res.problems,
        "attempted": res.attempted, "failed": res.failed,
        "failed_frac": res.failed / max(res.attempted, 1),
        "e2e": res.e2e, "named": res.named, "layers": res.layers, "info": res.info,
    }
    os.makedirs(harness.RESULTS, exist_ok=True)
    stem = os.path.join(harness.RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if tracer is not None:
        tracer.write(stem + "-spans.jsonl")
        record["self_time_s"] = tracer.self_times()
        res.layers.update(self_time_by_module(record["self_time_s"]))
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} commit={context['commit']} "
          f"nproc={context['nproc']} loadavg={context['loadavg_start']}")
    print(f"# wall {time.time() - process_start:.1f} s")
    print(f"# checks: {len(res.checks)} run, {len(res.problems)} failed")
    print(f"failed_frac = {record['failed_frac']:.6g} ratio "
          f"({res.failed} of {res.attempted} batches or queries)")
    for p in res.problems:
        print(f"# FAILED {p}", file=sys.stderr)
    if res.problems:
        emit(False, res.attempted, res.failed, {})
        return 1
    for name, (v, unit) in res.named.items():
        print(f"{name} = {v:.6g} {unit}")
    if tracer is None:
        metrics = {k: (res.e2e[k], u) for k, u in e2e_units.items()}
    else:
        for name, secs in sorted(record["self_time_s"].items()):
            print(f"self_time[{name}] = {secs:.4f} s")
        missing = [
            k for k in layer_units
            if k not in res.layers and not k.startswith(UNREACHED[args.workload])
        ]
        if missing:
            print(f"# per-layer metrics not produced: {missing}", file=sys.stderr)
            return 2
        # a layer this workload's path never reaches did no work: 0
        metrics = {k: (res.layers.get(k, 0.0), u) for k, u in layer_units.items()}
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    emit(True, res.attempted, res.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
