"""Streaming SCD2 interval maintenance — the time-machine's
slowly-changing-dimension export (sinks/timemachine.py:SCD2) run
INCREMENTALLY over the live stream instead of as a batch rebuild.

Reference anchor: the HBase time-machine keeps every version of a row
(HBaseApplier.java:166-196, maxVersions); SCD2 intervals are the
warehouse-facing presentation of that history. A batch rebuild rescans
everything; the streaming form closes each key's current interval the
moment its successor arrives, emitting exactly the CLOSED intervals —
each key's open (current) interval lives in the state store, 16 bytes
per key (value double + valid_from long).

Spark-first: applyInPandasWithState keyed by user_id; within a batch
the group's rows process in (ts, event_id) order, so under in-order
micro-batching (file streams preserve it; the multibatch test pins it)
the emitted intervals are byte-identical to the batch LEAD-window
derivation restricted to closed intervals — which is exactly the SQL
oracle. At 100 TB the state store holds one open interval per LIVE
key — the same cardinality the applier's current-state table already
carries — and each batch touches only arriving keys' groups.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import read_table
from .drive import file_sink

OUT_SCHEMA = (
    "user_id long, value double, valid_from_ms long, valid_to_ms long"
)
STATE_SCHEMA = "cur double, since long"


def _close_intervals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    cur, since = state.get if state.exists else (None, None)
    batch = pd.concat(list(pdfs))
    # sort on FULL-precision ts (ns) + event_id — the oracle's LEAD
    # ordering; ms truncation happens only on the emitted columns, so
    # two same-user events inside one millisecond still close in the
    # same order as the batch derivation (round-4 advice item)
    batch = batch.sort_values(["ts_ns", "event_id"])
    # Vectorized (guide §4.2): the old per-row itertuples loop walked
    # every event in Python. In the sorted batch, row i closes the
    # interval opened by row i-1 (or by the state's open interval for
    # i=0), so the emitted frame is a shift: values/from come from the
    # predecessor row, close times from the row itself. Same floor
    # division, same float64 values, identical rows.
    ts_ms = batch["ts_ns"].to_numpy() // 1_000_000
    vals = batch["value"].to_numpy().astype(np.float64, copy=False)
    n = len(ts_ms)
    if n:
        if since is not None:
            open_vals = np.concatenate(([cur], vals[:-1]))
            open_from = np.concatenate(([since], ts_ms[:-1]))
            close_at = ts_ms
        else:
            open_vals = vals[:-1]
            open_from = ts_ms[:-1]
            close_at = ts_ms[1:]
        state.update((float(vals[-1]), int(ts_ms[-1])))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(close_at), user_id, dtype=np.int64),
                "value": open_vals,
                "valid_from_ms": open_from,
                "valid_to_ms": close_at,
            }
        )
    else:
        yield pd.DataFrame(
            {
                "user_id": pd.Series(dtype="int64"),
                "value": pd.Series(dtype="float64"),
                "valid_from_ms": pd.Series(dtype="int64"),
                "valid_to_ms": pd.Series(dtype="int64"),
            }
        )


def build_scd2_stream(stream: DataFrame) -> DataFrame:
    """events stream → closed-interval stream (factored for the
    multibatch determinism test)."""
    raw = stream.select(
        "user_id",
        F.col("ts").alias("ts_ns"),
        "event_id",
        "value",
    )
    return raw.groupBy("user_id").applyInPandasWithState(
        _close_intervals,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_scd2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    scd2 = build_scd2_stream(read_table(spark, sf_dir, "events", stream=True))
    return file_sink(scd2, "scd2_state_")


# Oracle: the batch LEAD-window derivation, closed intervals only.
STREAM_SCD2_SQL = """
WITH iv AS (
    SELECT user_id, value,
        epoch_ms(ts) AS valid_from_ms,
        LEAD(epoch_ms(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ms
    FROM events
)
SELECT user_id, value, valid_from_ms, valid_to_ms
FROM iv WHERE valid_to_ms IS NOT NULL
"""


REGISTRY = [
    ("stream_scd2_intervals", stream_scd2_query, STREAM_SCD2_SQL),
]
