"""Stateful transaction assembly — the applyInPandasWithState
re-expression of the reference's CurrentTransaction buffer.

Reference (CurrentTransaction.java:40-139, Augmenter.java:149-191):
events buffer from BEGIN to COMMIT, then the whole transaction is
emitted stamped with commit metadata; oversized transactions emit in
chunks of buffer.limit when resuming (Augmenter.java:178-186 —
chunked-emission semantics preserved here via CHUNK_LIMIT).

Spark-first: groupBy(txn_xid).applyInPandasWithState with an
EVENT-TIME TIMEOUT — the state store buffers per-transaction running
aggregates across micro-batches and a transaction is emitted exactly
once, when the watermark passes its commit boundary (the minute-bucket
end that defines the synthetic txn key). A transaction split across
micro-batches therefore emits one row with correct totals instead of a
partial row per batch (the round-1 duplicate-emission bug). Append-mode
consequence: transactions in the stream's final minute bucket are
withheld (watermark never passes them) — deterministic from the data
and mirrored in the oracle's WHERE clause, same pattern as
stream_windowed_counts.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..cdc.envelope import CHANGE_FEED_SQL
from ..session import read_table
from .drive import file_sink

# reference default augmenter.context.transaction.buffer.limit
CHUNK_LIMIT = 1000

TXN_BUCKET_MS = 60_000  # the txn key's minute bucket (envelope.py)

OUT_SCHEMA = (
    "txn_xid long, n_events long, first_event_id long, "
    "last_event_id long, commit_ts_ms long"
)
STATE_SCHEMA = "n long, first long, last long, commit long"


def _assemble(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (txn_xid,) = key
    if state.hasTimedOut:
        # watermark passed the txn's commit boundary → closed: emit
        # once and clear (CurrentTransaction.commit analog).
        n, first, last, commit = state.get
        state.remove()
        yield pd.DataFrame(
            [(txn_xid, n, first, last, commit)],
            columns=[
                "txn_xid", "n_events", "first_event_id",
                "last_event_id", "commit_ts_ms",
            ],
        )
        return
    if state.exists:
        n, first, last, commit = state.get
    else:
        n, first, last, commit = 0, None, None, 0
    for pdf in pdfs:
        # chunked scan of the buffered transaction (Augmenter.java:178-186)
        for start in range(0, len(pdf), CHUNK_LIMIT):
            chunk = pdf.iloc[start : start + CHUNK_LIMIT]
            n += len(chunk)
            cmin = int(chunk["event_id"].min())
            cmax = int(chunk["event_id"].max())
            first = cmin if first is None else min(first, cmin)
            last = cmax if last is None else max(last, cmax)
            commit = max(commit, int(chunk["commit_ts_ms"].max()))
    state.update((n, first, last, commit))
    # the txn closes when the watermark passes its minute-bucket end
    state.setTimeoutTimestamp(
        (commit // TXN_BUCKET_MS + 1) * TXN_BUCKET_MS
    )


def txn_assembly_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful assembler over the whole event stream and
    return the per-transaction summary — oracle = plain GROUP BY
    restricted to watermark-closed transactions."""
    # the batch envelope's commit stamp uses txn-scoped windows, which a
    # stream cannot do pre-aggregation — deriving the txn key directly;
    # commit stamping happens IN the state store (that's the point).
    from ..cdc.envelope import TXN_USER_STRIDE

    raw = read_table(spark, sf_dir, "events", stream=True).select(
        "event_id",
        F.expr("ts div 1000000").alias("ts_ms"),
        (
            F.col("user_id") * F.lit(TXN_USER_STRIDE)
            + F.expr("(ts div 1000000) div 60000")
        ).alias("txn_xid"),
    )
    raw = raw.withColumn("commit_ts_ms", F.col("ts_ms")).withColumn(
        "ts_ts", F.timestamp_millis(F.col("ts_ms"))
    )
    assembled = (
        raw.withWatermark("ts_ts", "0 seconds")
        .groupBy("txn_xid")
        .applyInPandasWithState(
            _assemble,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return file_sink(assembled, "txn_state_")


# Emission rule: a txn (minute bucket B) closes when the final
# watermark (= max event time, delay 0) passes the bucket end
# (B+1)*60000 — txns in the stream's last minute bucket are withheld.
TXN_ASSEMBLY_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
agg AS (
    SELECT txn_xid, COUNT(*) AS n_events,
        MIN(event_id) AS first_event_id,
        MAX(event_id) AS last_event_id,
        MAX(ts_ms) AS commit_ts_ms
    FROM feed
    GROUP BY txn_xid
)
SELECT * FROM agg
WHERE (commit_ts_ms // {TXN_BUCKET_MS} + 1) * {TXN_BUCKET_MS}
      < (SELECT MAX(ts_ms) FROM feed)
"""

REGISTRY = [("stream_txn_assembly", txn_assembly_stream_query, TXN_ASSEMBLY_SQL)]
