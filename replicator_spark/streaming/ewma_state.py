"""Streaming per-key EWMA — the recursive filter as a keyed state-store
operator.

The batch twin (queries/analytics.py ts_ewma) collects each user's
history and folds it; a stream cannot collect history, which is
exactly why the reference-style engine keeps running state per key.
Here the state is THREE numbers per user — (s, n, last) — updated by
`applyInPandasWithState` in event order within each micro-batch.
That constant-size state is the whole point: 100 TB of history costs
the state store 24 bytes per key.

Emission: "update" mode yields the running row each batch via
foreachBatch into the epoch's own directory (`drive.epoch_sink`, so a
replayed epoch overwrites itself); the read path keeps each
user's LAST emitted row — which, because state carries the full
prefix, always reflects the user's complete history no matter how
the stream was micro-batched (the multibatch invariance test pins
this). Identical columns + rounding to the batch operator, so the
oracle is the batch EWMA SQL verbatim — a FULL value oracle for a
custom stateful streaming op.

Ordering premise: micro-batches arrive in event-time order per key
(the binlog premise, same as stream_txn_assembly); in-batch order is
restored by an explicit sort on (ts_ms, event_id). The per-element
arithmetic is the same IEEE double sequence as the batch fold, so the
two agree bit-for-bit before the 6-dp display rounding.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..queries.analytics import EWMA_ALPHA, EWMA_SQL
from ..session import read_table, scratch_dir
from .drive import epoch_sink

OUT_SCHEMA = "user_id long, n_events int, ewma double, last_value double"
STATE_SCHEMA = "s double, n int, last double"


def _fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        s, n, last = state.get
    else:
        s, n, last = None, 0, None
    pdf = pd.concat(list(pdfs)).sort_values(["ts_ms", "event_id"])
    for v in pdf["v"].tolist():
        v = float(v)
        s = v if n == 0 else EWMA_ALPHA * v + (1.0 - EWMA_ALPHA) * s
        n += 1
        last = v
    state.update((float(s), int(n), float(last)))
    yield pd.DataFrame(
        [(user_id, n, s, last)],
        columns=["user_id", "n_events", "ewma", "last_value"],
    )


def run_ewma_stream(stream: DataFrame, out: str, ckpt: str) -> None:
    """Drive the stateful fold over an events stream (canonical-nanos
    ``ts``), writing one (running) row per active user per epoch to
    that epoch's ``out/epoch=<id>`` directory."""
    raw = stream.select(
        "user_id",
        F.expr("ts div 1000000").alias("ts_ms"),
        "event_id",
        F.col("value").alias("v"),
    )
    updated = raw.groupBy("user_id").applyInPandasWithState(
        _fold,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    epoch_sink(updated, out, ckpt, lambda batch_df, _: batch_df, mode="update")


def collapse_ewma_store(spark: SparkSession, out: str) -> DataFrame:
    """Read-path collapse: each user's last emitted row is their
    full-history EWMA (state carries the prefix)."""
    store = spark.read.parquet(out)
    w = W.partitionBy("user_id").orderBy(F.col("epoch").desc())
    final = (
        store.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return final.select(
        "user_id",
        "n_events",
        (F.floor(F.col("ewma") * 1e6 + F.lit(0.5)) / 1e6).alias("ewma"),
        "last_value",
    )


def stream_ewma_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("tm_ewma_")
    out = os.path.join(base, "out")
    stream = read_table(spark, sf_dir, "events", stream=True)
    run_ewma_stream(stream, out, os.path.join(base, "ckpt"))
    return collapse_ewma_store(spark, out)


REGISTRY = [("stream_ewma", stream_ewma_query, EWMA_SQL)]
