"""``query_mix``: the read side — a closed loop with one client running
a seeded shuffle of twelve registry queries over generated tables.

One untimed pass first checks every result: against its DuckDB oracle
twin where the registry has one, else against a pinned row count.  It
also warms each query's code paths.  The timed loop then runs the mix
round after round, each round in a new seeded order, until the window
closes and at least one round is complete; each query's latency is
``fn(spark, sf_dir)`` (plan build) plus ``.count()`` (execution), and
its row count must match the checked pass.

A window holds one or two rounds — too few samples for any percentile
with ten samples beyond it — so the figures are taken over the twelve
per-query medians, which a partly finished round cannot skew:
throughput is queries per second with every query weighted equally,
``latency_p50_s`` the median query, and ``latency_tail_s`` the mean of
the slowest quarter (three queries) — steadier than the single slowest
query, whose median rests on one or two samples.
"""

from __future__ import annotations

import random
import time

import querydata
from harness import CACHE
from spans import span
from stats import median

MIX = (
    "cdc_current_state",
    "events_funnel",
    "agg_groupby",
    "tpch_q1",
    "tpch_q5",
    "join_multiway_star",
    "win_rank_latest_per_key",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "spans_self_time_rollup",
    "fn_json",
    "text_quality_score",
)

#: Row counts pinned for queries with no oracle twin, on the generated
#: tables (querydata VERSION 1).
PINNED_ROWS = {"dedup_minhash_lsh": 23}


def duck(sf_dir: str):
    import duckdb

    from go_otel_clickhouse_ingestor_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_pass(ctx, res, sf_dir: str) -> dict[str, int]:
    """Run each query once, check it, and return its row count."""
    from checks import compare

    con = duck(sf_dir)
    rows = {}
    for name in MIX:
        q = ctx.registry[name]
        try:
            pdf = q.fn(ctx.spark, sf_dir).toPandas()
        except Exception as exc:  # a failing query is a failed operation
            res.attempted += 1
            res.failed += 1
            res.problems.append(f"query_mix.{name} raised: {exc!r}")
            continue
        rows[name] = len(pdf)
        if q.oracle is not None:
            why = compare(pdf, con.execute(q.oracle).fetchdf())
            res.check(f"query_mix.{name}.matches_oracle", why is None, why or "")
        else:
            res.check(f"query_mix.{name}.pinned_rows", rows[name] == PINNED_ROWS[name],
                      f"{rows[name]} rows, pinned {PINNED_ROWS[name]}")
    con.close()
    return rows


def run(ctx, res, tracer=None) -> None:
    sf_dir = querydata.ensure(CACHE)
    rows = check_pass(ctx, res, sf_dir)
    if res.problems:
        return

    rng = random.Random(ctx.seed)
    samples: list[tuple[str, float, float]] = []  # (query, build s, exec s)
    t0 = time.time()
    t_end = t0 + ctx.seconds
    order, rounds = [], 0
    while True:
        late = time.time() >= t_end
        if not order:
            if late:
                break
            order = list(MIX)
            rng.shuffle(order)
            rounds += 1
        elif late and rounds > 1:  # the first round always completes
            break
        name = order.pop()
        res.attempted += 1
        try:
            with span(tracer, "query", f"q{len(samples)}-{name}"):
                t = time.time()
                with span(tracer, f"query.{name}.build"):
                    df = ctx.registry[name].fn(ctx.spark, sf_dir)
                tb = time.time()
                with span(tracer, f"query.{name}.exec"):
                    n = df.count()
            te = time.time()
        except Exception as exc:  # counted, and the loop goes on
            res.failed += 1
            res.problems.append(f"query_mix.{name} raised: {exc!r}")
            continue
        res.check(f"query_mix.{name}.rows", n == rows[name], f"{n} rows != {rows[name]}")
        samples.append((name, tb - t, te - tb))
    elapsed = time.time() - t0

    per_query = {
        name: median([b + e for q, b, e in samples if q == name]) for name in MIX
    }
    res.e2e["throughput_per_s"] = len(MIX) / sum(per_query.values())
    res.e2e["latency_p50_s"] = median(list(per_query.values()))
    slowest_quarter = sorted(per_query.values())[-len(MIX) // 4:]
    res.e2e["latency_tail_s"] = sum(slowest_quarter) / len(slowest_quarter)
    res.info.update({"latency_samples": len(samples), "rounds": rounds, "elapsed_s": elapsed})
    res.named.update({
        "queries_per_s": (res.e2e["throughput_per_s"], "queries/s"),
        "query_p50_s": (res.e2e["latency_p50_s"], "s"),
        "query_slowest_quarter_s": (res.e2e["latency_tail_s"], "s"),
    })
    for name, secs in per_query.items():
        res.layers[f"query.{name}.p50_s"] = secs
    res.layers["query.build_s"] = median([b for _, b, _ in samples])
    res.layers["query.exec_s"] = median([e for _, _, e in samples])


def context_metrics(ctx, res, tracer=None) -> dict[str, float]:
    return {}
