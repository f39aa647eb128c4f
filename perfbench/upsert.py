"""``cdc_upsert_zipf``: an open loop of Zipf-keyed CDC files into the
bucketed upsert state.

The run starts from a pre-built state of ``HISTORY`` upserted messages
and releases files of ``PER_FILE`` messages every ``INTERVAL`` seconds
— ``RATE`` events/s, below the sustainable rate — into a watched
directory, on a schedule that does not slow when the program does.
Files flow through ``translate_stream`` into ``upsert_foreach_batch``
under Spark's default back-to-back trigger, the ingestor's own
scheduling (``__main__`` sets no trigger): each batch takes the files
released while the previous one ran.

Ids are Zipf(``ZIPF_S``) over ``ID_SPACE`` users: the exponent and the
population of the skew probe in SCALING.md (Zipf(≈1) over 10k users).
When the schedule starts the state holds ``HISTORY`` messages — two
per user on average — upserted by the program itself from a fixed seed;
the run seed drives the released stream.  All but the last
``WARM_BATCHES`` x ``WARM_FILES`` history files form a pre-built state,
built once per checkout; the held-back files form the query's first,
untimed batches, which warm the read-merge-write path before the
schedule starts (after a single warm-up batch the first timed batch
still runs slow).

An event's freshness is the commit time of the batch that took its file
minus the file's scheduled release time; throughput is the scheduled
events over the time from the schedule's start to the commit of the
last of them.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from harness import (
    CACHE,
    SinkProbe,
    commit_time,
    data_batches,
    stream_layer_metrics,
)
from stage import SOURCE_SCHEMA, Releaser, cached, stage_backlog
from stats import backlog_s, event_freshness, median

HISTORY = 20_000
ID_SPACE = 10_000
ZIPF_S = 1.0
RATE = 1_000
INTERVAL = 0.25
PER_FILE = int(RATE * INTERVAL)
#: The history backlog is the same for every run seed.
STATE_SEED = 0
WARM_BATCHES = 4
WARM_FILES = 8  # two seconds of input
HELD_BACK = WARM_BATCHES * WARM_FILES
#: Cache tag of the staged inputs: they depend on the key distribution.
KEYS = f"zipf{ZIPF_S}-ids{ID_SPACE}"


def history():
    """The backlog the pre-built state is made of."""
    return stage_backlog(CACHE, f"upsert-hist-{KEYS}", STATE_SEED, HISTORY, PER_FILE,
                         zipf_s=ZIPF_S, id_space=ID_SPACE)


def prebuilt_state(spark) -> str:
    """All but the last ``HELD_BACK`` history files upserted through
    the program's own ``upsert_foreach_batch``; cached by seed and size."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
        translate_stream,
        upsert_foreach_batch,
    )

    hist = history()

    def build(tmp: str) -> None:
        paths = [os.path.join(hist.path, name) for name in hist.files[:-HELD_BACK]]
        upsert_foreach_batch(tmp)(
            translate_stream(spark.read.schema(SOURCE_SCHEMA).json(paths)), 0
        )

    return cached(CACHE, f"upsert-state-{KEYS}-s{STATE_SEED}-n{HISTORY}-h{HELD_BACK}", build)


def files_by_batch(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def state_scan(state: str) -> dict[str, dict[str, tuple[frozenset, int]]]:
    """{table: {bucket: (file names, rows)}} from parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for table in ("versions", "current"):
        buckets = {}
        for bdir in glob.glob(os.path.join(state, table, "bucket=*")):
            files = sorted(glob.glob(os.path.join(bdir, "*.parquet")))
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            buckets[os.path.basename(bdir)] = (frozenset(map(os.path.basename, files)), rows)
        out[table] = buckets
    return out


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


class StateProbe:
    """Traced runs: the state before and after each batch's apply."""

    def __init__(self, state: str):
        self.state = state
        self.before: dict[int, dict] = {}
        self.rewritten: dict[int, tuple[int, int]] = {}  # batch -> (buckets, rows)

    def pre(self, batch_id: int) -> None:
        self.before[batch_id] = state_scan(self.state)

    def post(self, batch_id: int) -> None:
        before, after = self.before.pop(batch_id), state_scan(self.state)
        touched = {b for b, v in after["versions"].items() if before["versions"].get(b) != v}
        rows = sum(after[t][b][1] for t in after for b in touched if b in after[t])
        self.rewritten[batch_id] = (len(touched), rows)


def run(ctx, res, tracer=None) -> None:
    from checks import digest
    from go_otel_clickhouse_ingestor_spark.operators.cdc import current_state
    from pyspark.errors import StreamingQueryException
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
        N_STATE_BUCKETS,
        translate_stream,
        upsert_foreach_batch,
    )

    spark, work = ctx.spark, ctx.work
    hist = history()
    stream = stage_backlog(CACHE, f"upsert-stream-{KEYS}", ctx.seed, int(RATE * ctx.seconds),
                           PER_FILE, first=HISTORY, zipf_s=ZIPF_S, id_space=ID_SPACE)
    state = os.path.join(work, "state")
    shutil.copytree(prebuilt_state(spark), state)
    pending = os.path.join(work, "pending")
    shutil.copytree(stream.path, pending)
    watched = os.path.join(work, "watched")
    os.makedirs(watched)
    warm = os.path.join(work, "warm")
    os.makedirs(warm)
    held = [f"history-{name}" for name in hist.files[-HELD_BACK:]]
    for name, staged in zip(hist.files[-HELD_BACK:], held):
        shutil.copy(os.path.join(hist.path, name), os.path.join(warm, staged))
    ckpt = os.path.join(work, "ckpt")

    probe = SinkProbe("streaming.cdc_stream.upsert_foreach_batch", tracer)
    state_probe = StateProbe(state)
    if tracer is not None:
        probe.before, probe.after = state_probe.pre, state_probe.post
    q = (
        translate_stream(spark.readStream.schema(SOURCE_SCHEMA).json(watched))
        .writeStream.foreachBatch(probe.wrap(upsert_foreach_batch(state)))
        .option("checkpointLocation", ckpt)
        .start()
    )
    releaser = None
    try:
        for k in range(0, HELD_BACK, WARM_FILES):  # the warm-up batches
            for name in held[k:k + WARM_FILES]:
                os.rename(os.path.join(warm, name), os.path.join(watched, name))
            q.processAllAvailable()
        w0 = time.time() + 0.1
        w1 = w0 + ctx.seconds
        releaser = Releaser(pending, stream.files, watched, INTERVAL, w0)
        releaser.start()
        releaser.join()
        q.processAllAvailable()
    except StreamingQueryException:
        pass  # reported from q.exception() below
    finally:
        if releaser is not None:
            releaser.halt()
        q.stop()
    err = q.exception()
    res.stream_outcome("cdc_upsert_zipf", probe, err)
    if err is not None:
        return

    # ---- correctness: final current/ == current_state over all input
    released = [os.path.join(watched, name) for name, _, _ in releaser.released]
    t = time.time()
    want = current_state(translate_stream(
        spark.read.schema(SOURCE_SCHEMA).json([hist.path, *released])
    ))
    want_digest = digest(want, "id")
    current_state_s = time.time() - t
    got = digest(spark.read.parquet(os.path.join(state, "current")).drop("bucket"), "id")
    res.check("cdc_upsert_zipf.current_equals_recompute", got == want_digest,
              f"{got} != {want_digest}")
    res.check("cdc_upsert_zipf.all_files_released",
              len(released) == len(stream.files),
              f"{len(released)} of {len(stream.files)} files released")

    # ---- freshness, throughput, backlog.  A batch's row count comes
    # from the files it took: numInputRows counts every re-scan of the
    # batch inside the sink, and the upsert scans its batch twice.
    progress = {p.batchId: p for p in data_batches(q)}
    commits = {b: commit_time(p) for b, p in progress.items()}
    by_file = files_by_batch(ckpt)
    sizes = {name: min(PER_FILE, stream.n - k * PER_FILE) for k, name in enumerate(stream.files)}
    rows = {b: 0 for b in commits}
    fresh, done_by_w1, last_commit, lost = [], 0, w0, []
    for name, due, _ in releaser.released:
        batch = by_file.get(name)
        if batch not in commits:
            lost.append(name)
            continue
        rows[batch] += sizes[name]
        commit = commits[batch]
        fresh += [float(event_freshness(due, commit))] * sizes[name]
        done_by_w1 += sizes[name] if commit <= w1 else 0
        last_commit = max(last_commit, commit)
    res.check("cdc_upsert_zipf.every_file_committed", not lost, f"never committed: {lost}")
    if lost:
        return
    in_batches = sorted(b for b, c in commits.items() if w0 <= c)
    res.e2e["throughput_per_s"] = len(fresh) / (last_commit - w0)
    res.latency(fresh, 99)
    res.named.update({
        "ingest_eps": (res.e2e["throughput_per_s"], "events/s"),
        "freshness_p50_s": (res.e2e["latency_p50_s"], "s"),
        "freshness_p99_s": (res.e2e["latency_tail_s"], "s"),
        "backlog_s": (backlog_s(len(fresh), done_by_w1, RATE), "s"),
        "offered_eps": (RATE, "events/s"),
    })
    res.info["timeline"] = [(b, rows[b], commits[b] - w0) for b in sorted(commits)]

    busy = probe.durations(since=w0)
    lates = [actual - due for _, due, actual in releaser.released]
    res.layers.update(stream_layer_metrics([progress[b] for b in in_batches]))
    res.layers["stream.rows_per_trigger_p50"] = median([rows[b] for b in in_batches])
    res.layers.update({
        "upsert.batch_p50_s": median(busy),
        "upsert.busy_frac": sum(busy) / (last_commit - w0),
        "upsert.state_rows": sum(r for _, r in state_scan(state)["versions"].values()),
        "upsert.state_mb": dir_mb(state),
        "cdc.current_state_s": current_state_s,
        "gen.backlog_s": res.named["backlog_s"][0],
        "gen.late_max_s": max(lates),
        "gen.events_released": sum(sizes[n] for n, _, _ in releaser.released),
    })
    if tracer is not None and state_probe.rewritten:
        touched = [state_probe.rewritten[b] for b in in_batches if b in state_probe.rewritten]
        ingested = sum(rows[b] for b in in_batches if b in state_probe.rewritten)
        res.layers["upsert.buckets_touched_frac"] = median(
            [k / N_STATE_BUCKETS for k, _ in touched]
        )
        res.layers["upsert.rewrite_amplification"] = sum(r for _, r in touched) / ingested


def context_metrics(ctx, res, tracer=None) -> dict[str, float]:
    import drain

    return drain.figures(ctx, res, tracer)
