"""Process-level plumbing shared by the workloads: environment, session
set-up, peak memory, streaming progress, the sink probe and the result
record."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import sys
import time

from spans import span

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")
CACHE = os.path.join(BENCH, "_cache")
RESULTS = os.path.join(BENCH, "_results")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def configure_env(run_dir: str) -> None:
    """Point every scratch location the session uses into the checkout,
    size the session to this host, and make the package importable.
    Must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # measure the session's own default heap, whatever the caller's
    # environment says
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={run_dir}" pyspark-shell'
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def run_context() -> dict:
    """Git commit (when the checkout is a repository), nproc and the
    load average at start — recorded in every result."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {"commit": commit, "nproc": nproc(), "loadavg_start": os.getloadavg()}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Setup:
    """Session set-up, timed from process start to the first completed
    action; ``get_spark`` and ``load_all`` are timed on their own."""

    def __init__(self, process_start: float, tracer=None):
        from go_otel_clickhouse_ingestor_spark import registry
        from go_otel_clickhouse_ingestor_spark.session import get_spark

        def timed(name, fn):
            t = time.time()
            with span(tracer, name, "setup"):
                out = fn()
            return out, time.time() - t

        self.spark, self.get_spark_s = timed("session.get_spark", lambda: get_spark("perfbench"))
        self.registry, self.load_all_s = timed("registry.load_all", registry.load_all)
        self.spark.range(1).count()
        self.setup_s = time.time() - process_start


def peak_rss_mb(pids) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM),
    which the kernel tracks exactly; read while the processes live."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def progress_time(ts: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601, UTC) -> epoch s."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def data_batches(query) -> list:
    """Progress of every trigger that carried data, in batch order."""
    return sorted(
        (p for p in query.recentProgress if p.numInputRows > 0), key=lambda p: p.batchId
    )


def commit_time(progress) -> float:
    """When a batch's trigger (write + offset commit) completed."""
    return progress_time(progress.timestamp) + progress.durationMs["triggerExecution"] / 1000.0


STREAM_DURATIONS = {
    "stream.query_planning_ms": "queryPlanning",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
    "stream.trigger_p50_ms": "triggerExecution",
}


def stream_layer_metrics(progresses) -> dict[str, float]:
    """Per-trigger fixed costs, medians over data-carrying triggers
    (none when no trigger carried data)."""
    from stats import median

    if not progresses:
        return {}
    out = {
        name: median([p.durationMs.get(key, 0) for p in progresses])
        for name, key in STREAM_DURATIONS.items()
    }
    out["stream.rows_per_trigger_p50"] = median([p.numInputRows for p in progresses])
    return out


class SinkProbe:
    """Wraps the foreachBatch function the program returns: records each
    call's start, end and outcome (the attempted/failed batch counts),
    and under a tracer records it as the batch's root span."""

    def __init__(self, name: str, tracer=None):
        self.name = name
        self.tracer = tracer
        self.calls: list[tuple[int, float, float, bool]] = []  # (batch, start, end, ok)
        self.before = None  # optional hooks (traced runs): fn(batch_id)
        self.after = None

    def wrap(self, sink):
        def apply(batch_df, batch_id):
            if self.before:
                self.before(batch_id)
            t = time.time()
            ok = False
            try:
                with span(self.tracer, self.name, f"batch-{batch_id}"):
                    sink(batch_df, batch_id)
                ok = True
            finally:
                self.calls.append((batch_id, t, time.time(), ok))
                if self.after:
                    self.after(batch_id)

        return apply

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(not ok for *_, ok in self.calls)

    def durations(self, since: float = 0.0, until: float = float("inf")) -> list[float]:
        return [e - s for _, s, e, ok in self.calls if ok and since <= s < until]

    def completed(self) -> set[int]:
        return {b for b, _, _, ok in self.calls if ok}


class Result:
    """What one workload run measured and checked."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []  # failed correctness checks
        self.checks: list[str] = []  # names of checks that ran
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}  # workload-specific names
        self.layers: dict[str, float] = {}
        self.info: dict = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append(name)
        if not ok:
            self.problems.append(f"{name}: {detail}")

    def stream_outcome(self, name: str, probe: SinkProbe, err) -> None:
        """Count a streaming query's batches; a query that ended with an
        exception no batch raised counts as one more failed operation."""
        self.attempted += probe.attempted
        self.failed += probe.failed
        if err is not None:
            if not probe.failed:
                self.attempted += 1
                self.failed += 1
            self.problems.append(f"{name} query failed: {err}")

    def latency(self, samples, tail_q: float) -> None:
        """Set latency_p50_s / latency_tail_s from per-sample latencies."""
        from stats import percentile

        self.e2e["latency_p50_s"] = percentile(samples, 50)
        self.e2e["latency_tail_s"] = percentile(samples, tail_q)
        self.info["latency_samples"] = len(samples)
        self.info["latency_tail_q"] = tail_q
