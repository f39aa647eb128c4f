"""``synthetic_jdbc``: the reference's default mode as an open loop.

``synthetic_events`` (Spark's rate source, ``RATE`` ticks/s) feeds
``jdbc_foreach_batch`` into embedded Derby — the JDBC driver that ships
in Spark's jars, standing in for ClickHouse — with Spark's default
back-to-back trigger.  Tick ``v`` is scheduled at
``creation + v / RATE``, where ``creation`` is the time the rate source
records in its checkpoint; an event's freshness is the commit time of
its batch minus that schedule; throughput is the ticks scheduled in
the window over the time from the window's start to the commit of the
last of them.  The first ``WARM`` seconds of ticks are written but not
measured.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time

import numpy as np

from harness import SinkProbe, commit_time, data_batches, stream_layer_metrics
from stats import backlog_s, event_freshness, median, percentile, rate_schedule

RATE = 5_000
WARM = 3.0
#: Rate ladder of the traced run, events/s, and each rung's window.
LADDER = (10_000, 20_000, 30_000, 40_000)
LADDER_SECONDS = 6.0
LIMIT_P99_S = 5.0


def source_offsets(ckpt: str, batch_id: int) -> tuple[int, int]:
    """(start, end) second offsets of a planned batch, from the offset
    log (the rate source's offset is whole seconds since creation)."""

    def end(b: int) -> int:
        with open(os.path.join(ckpt, "offsets", str(b))) as fh:
            return int(fh.read().strip().splitlines()[-1])

    return (end(batch_id - 1) if batch_id > 0 else 0), end(batch_id)


def creation_time(ckpt: str, timeout: float = 60.0) -> float:
    """The rate source's creation time (epoch s), from its checkpoint."""
    path = os.path.join(ckpt, "sources", "0", "0")
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with open(path) as fh:
                return int(fh.read().strip().splitlines()[-1]) / 1000.0
        except (OSError, ValueError, IndexError):
            time.sleep(0.05)
    raise RuntimeError("rate source never recorded its creation time")


class OpenLoop:
    """One synthetic -> JDBC query at ``rate``, measured over
    ``[creation + warm, creation + warm + seconds)``."""

    def __init__(self, spark, work: str, rate: int, warm: float, seconds: float,
                 table: str, tracer=None):
        from go_otel_clickhouse_ingestor_spark.streaming.sinks import (
            JdbcSinkConfig,
            jdbc_foreach_batch,
        )
        from go_otel_clickhouse_ingestor_spark.streaming.synthetic import synthetic_events

        self.rate = rate
        self.ckpt = os.path.join(work, f"ckpt-{table}")
        self.cfg = JdbcSinkConfig(url=f"jdbc:derby:{work}/derby;create=true", table=table)
        self.probe = SinkProbe("streaming.sinks.jdbc_foreach_batch", tracer)
        self.idle = threading.Event()
        self.idle.set()
        self.probe.before = lambda _: self.idle.clear()
        self.probe.after = lambda _: self.idle.set()
        self.query = (
            synthetic_events(spark, rate=rate)
            .writeStream.foreachBatch(self.probe.wrap(jdbc_foreach_batch(self.cfg)))
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.creation = creation_time(self.ckpt)
        self.w0 = self.creation + warm
        self.w1 = self.w0 + seconds

    def finish(self, timeout: float = 60.0) -> None:
        """Run until every tick due before the window's end is committed,
        then stop between batches, never inside a sink write."""
        time.sleep(max(self.w1 - time.time(), 0))
        need = math.ceil(self.w1 - self.creation)
        deadline = time.time() + timeout
        try:
            while time.time() < deadline and self.query.isActive:
                done = data_batches(self.query)
                end = source_offsets(self.ckpt, done[-1].batchId)[1] if done else 0
                if end >= need and self.idle.wait(5):
                    break
                time.sleep(0.1)
        finally:
            self.query.stop()

    def batches(self):
        """(progress, rows, commit time) of every committed batch."""
        for p in data_batches(self.query):
            s0, s1 = source_offsets(self.ckpt, p.batchId)
            yield p, s0, (s1 - s0) * self.rate, commit_time(p)

    def backlog_at(self, t: float) -> float:
        due = int((t - self.creation) * self.rate)
        return backlog_s(due, sum(n for _, _, n, c in self.batches() if c <= t), self.rate)

    def measure(self) -> dict:
        """Freshness of the ticks scheduled in the window, and those
        ticks over the time from the window's start to the commit of
        the last of them."""
        fresh, in_window, last_commit = [], [], self.w0
        for p, s0, n, commit in self.batches():
            sched = rate_schedule(self.creation, self.rate, s0 * self.rate, n)
            mine = event_freshness(sched[(sched >= self.w0) & (sched < self.w1)], commit)
            if len(mine):
                fresh.append(mine)
                in_window.append(p)
                last_commit = max(last_commit, commit)
        fresh = np.concatenate(fresh) if fresh else np.array([])
        return {
            "fresh": fresh,
            "eps": len(fresh) / (last_commit - self.w0) if len(fresh) else 0.0,
            "window_progress": in_window,
        }

    def expected_rows(self) -> int:
        """Rows of every batch whose sink write completed."""
        return sum(
            (lambda s: (s[1] - s[0]) * self.rate)(source_offsets(self.ckpt, b))
            for b in self.probe.completed()
        )


def check_sink(spark, res, loop: OpenLoop, name: str) -> None:
    """The Derby rows against the committed input.  ``user_id`` is a
    fresh uuid on every execution, so duplicates show in the counts: in
    the total, and per second-truncated timestamp, where the rate source
    puts exactly ``rate`` ticks in each whole wall second — a replayed
    batch doubles its seconds, a lost one empties them, even when the
    two would cancel in the total."""
    from pyspark.sql import functions as F

    df = spark.read.jdbc(loop.cfg.url, loop.cfg.qualified_table())
    per_second = sorted(
        (r.timestamp, r.n) for r in df.groupBy("timestamp").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(n for _, n in per_second)
    untruncated = [
        ts for ts, _ in per_second
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", ts or "")
    ]
    # the first and last seconds are partly outside the committed ticks
    uneven = [(ts, n) for ts, n in per_second[1:-1] if n != loop.rate]
    want = loop.expected_rows()
    res.check(f"{name}.rows_equal_committed_input", total == want, f"{total} rows != {want}")
    res.check(f"{name}.rate_rows_per_whole_second", not uneven and len(per_second) > 2,
              f"seconds without exactly {loop.rate} rows: {uneven[:5]}")
    res.check(f"{name}.timestamps_truncated_to_second", not untruncated,
              f"timestamps not 'yyyy-MM-dd HH:mm:ss': {untruncated[:5]}")


def run(ctx, res, tracer=None) -> None:
    loop = OpenLoop(ctx.spark, ctx.work, RATE, WARM, ctx.seconds, "events", tracer)
    loop.finish()
    err = loop.query.exception()
    res.stream_outcome("synthetic_jdbc", loop.probe, err)
    if err is not None:
        return
    check_sink(ctx.spark, res, loop, "synthetic_jdbc")
    m = loop.measure()
    if not m["eps"]:
        res.problems.append("no tick scheduled in the window was committed")
        return
    res.e2e["throughput_per_s"] = m["eps"]
    res.latency(m["fresh"], 99)
    res.named.update({
        "ingest_eps": (m["eps"], "events/s"),
        "freshness_p50_s": (res.e2e["latency_p50_s"], "s"),
        "freshness_p99_s": (res.e2e["latency_tail_s"], "s"),
        "backlog_s": (loop.backlog_at(loop.w1), "s"),
        "offered_eps": (RATE, "events/s"),
    })
    busy = loop.probe.durations(loop.w0, loop.w1)
    rows = sum(p.numInputRows for p in m["window_progress"])
    res.layers.update(stream_layer_metrics(m["window_progress"]))
    res.layers.update({
        "sink.write_p50_s": median(busy),
        "sink.busy_frac": sum(busy) / (loop.w1 - loop.w0),
        "sink.rows_per_busy_s": rows / sum(busy),
        "sink.failed_batches": loop.probe.failed,
        "gen.backlog_s": res.named["backlog_s"][0],
        "gen.events_released": int((loop.w1 - loop.creation) * RATE),
    })


def max_sustained_eps(ctx) -> float:
    """Highest ladder rung whose p99 freshness is within the limit and
    whose backlog does not grow over the rung's second half."""
    best = 0.0
    for rate in LADDER:
        loop = OpenLoop(ctx.spark, ctx.work, rate, 2.0, LADDER_SECONDS, f"ladder_{rate}")
        loop.finish()
        fresh = loop.measure()["fresh"]
        half = loop.w0 + LADDER_SECONDS / 2
        if (
            loop.query.exception() is not None
            or percentile(fresh, 99) > LIMIT_P99_S
            or loop.backlog_at(loop.w1) > loop.backlog_at(half) + 1.0
        ):
            break
        best = float(rate)
    return best


def context_metrics(ctx, res, tracer=None) -> dict[str, float]:
    return {"synthetic.max_sustained_eps": max_sustained_eps(ctx)}
