"""Seeded input generators for the stored-table benchmark.

Every table is a pure function of (seed, size): the same seed writes
byte-identical parquet, another seed writes different data. The benchmark
writes the tables before any timer starts; the program under test only
ever reads the stored files.

Layout is kept as generated (FILES files of consecutive rows) and is never
re-laid out to suit the program: the file count decides how many scan
tasks Spark plans, and with it how a few hot documents straggle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = tuple(f"src{i}" for i in range(8))
# Zipf-ish source mix over 8 values, as in the package's own synth table.
SOURCE_WEIGHTS = np.array([40, 20, 12, 8, 6, 5, 5, 4], dtype=np.float64) / 100.0
TS_BASE = 1_700_000_000  # epoch seconds
EVENT_TYPES = ("click", "purchase", "view", "signup", "error")
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, microseconds
# Every stored table is this many files: Spark plans one scan task per
# file at these sizes, so on 4 cores the scan is 4 tasks wide.
FILES = 4


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table), so adding a table never
    shifts the values of another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def token_docs(
    seed: int,
    n_docs: int,
    min_tok: int,
    max_tok: int,
    hot_share: float,
    ts_step: int,
) -> pa.Table:
    """Token table in the engine's schema
    (doc_id string, tokens array<int>, n_tok int, source string, ts long).

    Lengths are uniform in [min_tok, max_tok], except a `hot_share` of
    docs drawn from [2048, 8192]. Timestamps rise by about `ts_step`
    seconds per doc, so docs are stored in time order."""
    rng = _rng(seed, "docs")
    hot = rng.random(n_docs) < hot_share
    n_tok = np.where(
        hot,
        rng.integers(2048, 8193, n_docs),
        rng.integers(min_tok, max_tok + 1, n_docs),
    ).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    src = rng.choice(len(SOURCES), size=n_docs, p=SOURCE_WEIGHTS)
    ts = (
        TS_BASE
        + np.arange(n_docs, dtype=np.int64) * ts_step
        + rng.integers(0, ts_step, n_docs)
    )
    return pa.table(
        {
            "doc_id": pa.array([f"doc{i:09d}" for i in range(n_docs)], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(np.asarray(SOURCES, dtype=object)[src], pa.string()),
            "ts": pa.array(ts, pa.int64()),
        }
    )


def source_stats(seed: int, ts_lo: int, ts_hi: int, period: int) -> pa.Table:
    """Per-source stats table for the as-of right side: one row per source
    and `period`-second bucket covering [ts_lo, ts_hi], stamped at a seeded
    offset inside its bucket, so the earliest docs of each source have no
    match and the match ratio stays below 1."""
    rng = _rng(seed, "stats")
    buckets = np.arange(ts_lo // period, ts_hi // period + 1, dtype=np.int64)
    n = len(buckets) * len(SOURCES)
    src = np.repeat(np.arange(len(SOURCES)), len(buckets))
    ts = np.tile(buckets * period, len(SOURCES)) + rng.integers(0, period, n)
    return pa.table(
        {
            "source": pa.array(np.asarray(SOURCES, dtype=object)[src], pa.string()),
            "ts": pa.array(ts, pa.int64()),
            "stat_mean": pa.array(rng.normal(500.0, 120.0, n), pa.float64()),
            "stat_n": pa.array(rng.integers(1, 10_000, n), pa.int64()),
        }
    )


def events(
    seed: int, n_events: int, n_users: int, days: int
) -> pa.Table:
    """Event table in the `events` schema of the repository's test data
    (event_id long, ts timestamp, user_id long, event_type string, value
    double, props string). Users are Zipf-skewed (weight 1/rank over a
    seeded permutation of ids); event_id follows time order."""
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, days * 86_400 * 1_000_000, n_events)) + EVENTS_T0_US
    w = 1.0 / np.arange(1, n_users + 1, dtype=np.float64)
    rank = rng.choice(n_users, size=n_events, p=w / w.sum())
    user = rng.permutation(n_users).astype(np.int64)[rank]
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    value = np.round(rng.uniform(0.0, 200.0, n_events), 2)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)], pa.string()).take(
        pa.array(rng.integers(0, 100, n_events))
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[etype], pa.string()
            ),
            "value": pa.array(value, pa.float64()),
            "props": props,
        }
    )


def write(table: pa.Table, path: str, n_files: int = FILES) -> str:
    """Store `table` as a directory of `n_files` parquet files, one row
    group each, holding consecutive rows. pyarrow writes no timestamp or
    random name, so the bytes depend on the table alone."""
    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, part.num_rows),
        )
    return path
