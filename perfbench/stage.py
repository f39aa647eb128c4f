"""Seeded input stager: Kafka-shaped Debezium envelope files.

Every staged message is a JSON line ``{"msg_id", "key", "value"}`` —
the schema the ingestor's ``--source-dir`` replay path reads
(``msg_id long, key string, value string``).  The branch mix is fixed by
the message index, so a backlog of ``n`` messages holds an exactly known
number of each FIXTURES.md case:

- ops cycle c, u, u, d;
- every 7th value double-encoded (a JSON string holding the envelope);
- every 13th value corrupt (truncated JSON) — dropped by the program;
- every 17th op unknown (``"r"``) — dropped;
- every 19th c/u has no ``after`` — dropped;
- every other delete carries no ``before`` (id from the Kafka key);
- every 23rd envelope has null ``lsn``/``ts_us`` (defaults 0 / epoch).

Ids come from the seed: uniform over the id space, or Zipf-skewed.
Staged directories are cached by (kind, seed, size), built in a
temporary directory and renamed into place, so staging never falls
inside a timed window and a half-written cache is never read.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np

SOURCE_SCHEMA = "msg_id long, key string, value string"
OPS = ("c", "u", "u", "d")
#: 2025-08-13 12:00 UTC, the fixture corpus era.
TS0_US = 1755086400000000

BRANCHES = (
    "corrupt",
    "double",
    "unknown_op",
    "missing_after",
    "delete_key_only",
    "null_lsn",
    "kept",
)


def branch_flags(i: int) -> dict[str, bool]:
    """The branch cases message ``i`` exercises (several can hold)."""
    op = OPS[i % len(OPS)]
    corrupt = i % 13 == 12
    unknown = not corrupt and i % 17 == 16
    missing_after = not corrupt and not unknown and op != "d" and i % 19 == 18
    return {
        "corrupt": corrupt,
        "double": not corrupt and i % 7 == 6,
        "unknown_op": unknown,
        "missing_after": missing_after,
        "delete_key_only": not corrupt and not unknown and op == "d" and i % 8 == 7,
        "null_lsn": not corrupt and i % 23 == 22,
        "kept": not (corrupt or unknown or missing_after),
    }


def expected_mix(first: int, n: int) -> dict[str, int]:
    """Exact branch counts for messages ``first .. first+n-1``."""
    counts = dict.fromkeys(BRANCHES, 0)
    for i in range(first, first + n):
        for name, hit in branch_flags(i).items():
            counts[name] += hit
    return counts


def envelope(i: int, uid: int) -> tuple[str, str]:
    """(key, value) text of message ``i`` for user ``uid``."""
    flags = branch_flags(i)
    key = json.dumps({"id": uid})
    if flags["corrupt"]:
        return key, '{"before": {"id":'
    op = "r" if flags["unknown_op"] else OPS[i % len(OPS)]
    user = {"id": uid, "name": f"user-{uid}-{i}", "email": f"u{uid}.{i}@example.com"}
    lsn = None if flags["null_lsn"] else 1000 + i
    ts_us = None if flags["null_lsn"] else TS0_US + i * 1000
    env = {
        "before": None if flags["delete_key_only"] or op != "d" else user,
        "after": None if op == "d" or flags["missing_after"] else user,
        "source": {"lsn": lsn, "ts_us": ts_us, "schema": "app", "table": "users"},
        "op": op,
        "ts_us": ts_us,
    }
    value = json.dumps(env)
    if flags["double"]:
        value = json.dumps(value)
    return key, value


def classify(value: str) -> dict[str, bool]:
    """Read a staged value back into branch flags (the mix check)."""
    try:
        env = json.loads(value)
    except json.JSONDecodeError:
        return {"corrupt": True, "double": False, "unknown_op": False,
                "missing_after": False, "delete_key_only": False,
                "null_lsn": False, "kept": False}
    double = isinstance(env, str)
    if double:
        env = json.loads(env)
    op = env["op"]
    unknown = op not in ("c", "u", "d")
    missing_after = op in ("c", "u") and env["after"] is None
    return {
        "corrupt": False,
        "double": double,
        "unknown_op": unknown,
        "missing_after": missing_after,
        "delete_key_only": op == "d" and env["before"] is None,
        "null_lsn": env["source"]["lsn"] is None,
        "kept": not (unknown or missing_after),
    }


def uniform_ids(rng: np.random.Generator, n: int, id_space: int) -> np.ndarray:
    return rng.integers(1, id_space + 1, size=n)


def zipf_ids(rng: np.random.Generator, n: int, id_space: int, s: float) -> np.ndarray:
    """Bounded Zipf over ``id_space`` ranks.  Ranks map to ids through
    one fixed permutation, so every backlog shares the same hot ids
    (the pre-built state's hot ids are the stream's), and hot ids are
    not numerically adjacent."""
    weights = 1.0 / np.arange(1, id_space + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    return np.random.default_rng(7).permutation(id_space)[ranks] + 1


def write_files(directory: str, first: int, ids: np.ndarray, per_file: int) -> None:
    """Write messages ``first ..`` (one per id) as JSON-lines files of
    ``per_file`` messages."""
    for f, start in enumerate(range(0, len(ids), per_file)):
        name = f"part-{f:05d}.json"
        lines = []
        for j in range(start, min(start + per_file, len(ids))):
            i = first + j
            key, value = envelope(i, int(ids[j]))
            lines.append(json.dumps({"msg_id": i, "key": key, "value": value}))
        with open(os.path.join(directory, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def check_mix(directory: str, first: int, n: int) -> None:
    """Re-read every staged file and require the exact expected mix."""
    seen = dict.fromkeys(BRANCHES, 0)
    msg_ids = []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            for line in fh:
                rec = json.loads(line)
                msg_ids.append(rec["msg_id"])
                for k, hit in classify(rec["value"]).items():
                    seen[k] += hit
    want = expected_mix(first, n)
    if seen != want or msg_ids != list(range(first, first + n)):
        raise RuntimeError(f"staged mix mismatch in {directory}: {seen} != {want}")


@dataclass(frozen=True)
class Staged:
    path: str  # directory of JSON-lines files
    first: int  # msg_id of the first message
    n: int  # number of messages
    files: tuple[str, ...]


def cached(cache_root: str, tag: str, build) -> str:
    """Return ``cache_root/tag``, building it once via ``build(tmp_dir)``
    and publishing it by an atomic rename."""
    final = os.path.join(cache_root, tag)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def stage_backlog(
    cache_root: str, kind: str, seed: int, n: int, per_file: int,
    first: int = 0, id_space: int = 1_000_000, zipf_s: float | None = None,
) -> Staged:
    """Stage (or reuse) ``n`` messages starting at msg_id ``first``;
    the branch mix is checked once, when the files are written."""
    tag = f"{kind}-s{seed}-n{n}-f{first}"

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, first, n])
        ids = (
            uniform_ids(rng, n, id_space)
            if zipf_s is None
            else zipf_ids(rng, n, id_space, zipf_s)
        )
        write_files(tmp, first, ids, per_file)
        check_mix(tmp, first, n)

    path = cached(cache_root, tag, build)
    return Staged(path, first, n, tuple(sorted(os.listdir(path))))


class Releaser(threading.Thread):
    """Open-loop release of staged files into a watched directory.

    File ``k`` is due at ``t0 + k * interval`` whatever the program is
    doing; a single thread moves it in by atomic rename (never a
    partial file) and records how late each release ran."""

    def __init__(self, src: str, files, watched: str, interval: float, t0: float):
        super().__init__(name="releaser", daemon=True)
        self.src = src
        self.files = tuple(files)
        self.watched = watched
        self.interval = interval
        self.t0 = t0
        self.released: list[tuple[str, float, float]] = []  # (file, due, actual)
        self._halt = threading.Event()

    def halt(self) -> None:
        self._halt.set()

    def run(self) -> None:
        for k, name in enumerate(self.files):
            due = self.t0 + k * self.interval
            wait = due - time.time()
            if wait > 0 and self._halt.wait(wait):
                return
            os.rename(os.path.join(self.src, name), os.path.join(self.watched, name))
            self.released.append((name, due, time.time()))
