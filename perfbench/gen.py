"""Seeded inputs for the replicator benchmark.

The seed fixes the replica key offset, the order in which the replica
copies are laid into the log, how the rows are cut into rotated binlog
files, and the as-of read cutoffs. The replicator only ever sees the
files written here: rotated binlog v4 files, an ``events.parquet``
change table, or a time-machine store built from it.

Rows follow the driver testdata's ``events`` shape (event_id, ts,
user_id, event_type, value, props) restricted to the four row-change
event types, and every user's first row is its INSERT. With no QUERY
rows and no missing before-image, the binlog path and the parquet path
produce the same cells, so DuckDB's oracle SQL over ``events`` checks
the binlog replay.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 29 * 86_400 * 10**6  # one month of history per replica copy
COPY_TS_US = 86_400 * 10**6  # each copy starts one day later
KEY_STRIDE = 10_000_000  # per-copy key stride (tools/scale_smoke.py)
EVENTS_PER_USER = 20

# event_type → op, as cdc.envelope.OP_CASE_SQL classifies them
EVENT_TYPES = np.array(["signup", "click", "purchase", "error"])
EVENT_OPS = np.array(["INSERT", "UPDATE", "UPDATE", "DELETE"])
TYPE_WEIGHTS = [0.15, 0.3, 0.35, 0.2]

ROWS_SCHEMA = pa.schema([
    ("op", pa.string()),
    ("event_id", pa.int64()),
    ("ts_us", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def change_rows(seed: int, n_base: int, copies: int) -> pa.Table:
    """``copies`` key-offset copies of one seeded base history, laid
    out copy after copy in a seeded order (each copy in time order)."""
    rng = np.random.default_rng(seed)
    n_users = max(1, n_base // EVENTS_PER_USER)
    ts = np.sort(rng.integers(0, SPAN_US, n_base)) + BASE_TS_US
    user = rng.integers(0, n_users, n_base)
    kind = rng.choice(len(EVENT_TYPES), n_base, p=TYPE_WEIGHTS)
    _, first = np.unique(user, return_index=True)
    kind[first] = 0  # each user's history opens with its INSERT
    value = np.round(rng.gamma(2.0, 25.0, n_base), 2)
    props = np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_base)])
    offset = int(rng.integers(1, 64)) * KEY_STRIDE
    parts = []
    for c in rng.permutation(copies):
        key = offset + int(c) * KEY_STRIDE
        parts.append(pa.table(
            {
                "op": EVENT_OPS[kind],
                "event_id": np.arange(n_base, dtype=np.int64) + key,
                "ts_us": ts + int(c) * COPY_TS_US,
                "user_id": user + key,
                "event_type": EVENT_TYPES[kind],
                "value": value,
                "props": props,
            },
            schema=ROWS_SCHEMA,
        ))
    return pa.concat_tables(parts).combine_chunks()


def file_bounds(seed: int, n_rows: int, n_files: int) -> list[int]:
    """Seeded cut points: file sizes vary ±10 % around the mean."""
    rng = np.random.default_rng(seed + 7919)
    w = rng.uniform(0.9, 1.1, n_files)
    sizes = np.maximum(1, np.floor(w / w.sum() * n_rows)).astype(int)
    sizes[-1] += n_rows - sizes.sum()
    return [0, *np.cumsum(sizes).tolist()]


def cutoffs(seed: int, lo: int, hi: int, n: int, strata: int) -> list[int]:
    """Seeded as-of cutoffs, uniform over [lo, hi]. Cutoff i is drawn
    from stratum i % strata of the range, so every ``strata``
    consecutive reads span the whole range and the share of cheap and
    costly reads is the same in every run, however many it makes."""
    u = np.random.default_rng(seed + 104729).uniform(size=n)
    x = (np.arange(n) % strata + u) / strata
    return [int(lo + v * (hi - lo)) for v in x]


def events_table(rows: pa.Table) -> pa.Table:
    """The change rows as the testdata ``events`` table (µs timestamps)."""
    return pa.table({
        "event_id": rows["event_id"],
        "ts": rows["ts_us"].cast(pa.timestamp("us")),
        "user_id": rows["user_id"],
        "event_type": rows["event_type"],
        "value": rows["value"],
        "props": rows["props"],
    })


def write_events(rows: pa.Table, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(events_table(rows), os.path.join(sf_dir, "events.parquet"))


def write_binlog_files(rows: pa.Table, bounds: list[int], out_dir: str) -> list[str]:
    """One rotated binlog v4 file per [bounds[i], bounds[i+1]) slice,
    named like a server's (``binlog.000001`` ...). The bytes come from
    the package's wire writer (``encode_binlog_file``, the encoder
    ``snapshot_to_binlog_files`` runs per partition), called here in the
    driver so that set-up starts no Spark job."""
    from replicator_spark.sources.binlog import encode_binlog_file

    os.makedirs(out_dir, exist_ok=True)
    cols = ROWS_SCHEMA.names
    names = []
    for i in range(len(bounds) - 1):
        part = rows.slice(bounds[i], bounds[i + 1] - bounds[i])
        records = list(zip(*(part.column(c).to_pylist() for c in cols)))
        names.append(f"binlog.{i + 1:06d}")
        with open(os.path.join(out_dir, names[-1]), "wb") as f:
            f.write(encode_binlog_file(records))
    return names
