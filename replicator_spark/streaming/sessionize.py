"""Streaming gap-based sessionization: the Structured-Streaming twin
of pipeline/sessions.py, using the built-in `F.session_window`
aggregation (state-store backed, watermark-closed) rather than a
custom stateful UDF — Spark's native operator IS the right tool here.

Semantics note: `session_window(ts, gap)` windows are half-open
[first, last+gap), so two events exactly `gap` apart start a NEW
session; the batch op's lag-based flag uses a strict `>`. The oracle
below mirrors the STREAMING (half-open, `>=`) rule.

Append-mode emission: a session emits exactly once, when the watermark
passes its window end (= last event + gap). Draining all input with
a 0-delay watermark leaves the final watermark at the stream's max
event time, so sessions whose last event lies within one gap of the
stream end are withheld — deterministic from the data, mirrored in the
oracle WHERE.

Scale shape (100 TB/day of events): one keyed state-store exchange on
user_id; session merge happens inside the state store with no window
re-sort; the watermark bounds state size to the active-session set.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.sessions import GAP_MS
from ..session import read_table
from .drive import file_sink

_GAP_STR = f"{GAP_MS} milliseconds"


def sessionize_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events", stream=True).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000000").alias("ts_ms"),
    ).withColumn("ts_ts", F.timestamp_millis(F.col("ts_ms")))
    sessions = (
        ev.withWatermark("ts_ts", "0 seconds")
        .groupBy(
            F.session_window("ts_ts", _GAP_STR).alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_last_ms"),
        )
        .select(
            "user_id", "session_start_ms", "session_last_ms", "n_events",
            (F.col("session_last_ms") - F.col("session_start_ms")).alias(
                "span_ms"
            ),
        )
    )
    return file_sink(sessions, "stream_sess_")


SESSIONIZE_STREAM_SQL = f"""
WITH ev AS (
    SELECT event_id, epoch_ms(ts) AS ts_ms, user_id FROM events
), flagged AS (
    SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w >= {GAP_MS}
                   THEN 1 ELSE 0 END AS gap
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
    SELECT *, SUM(gap) OVER (
        PARTITION BY user_id ORDER BY ts_ms, event_id
        ROWS UNBOUNDED PRECEDING) AS session_no
    FROM flagged
), per_session AS (
    SELECT user_id,
        MIN(ts_ms) AS session_start_ms,
        MAX(ts_ms) AS session_last_ms,
        COUNT(*) AS n_events,
        MAX(ts_ms) - MIN(ts_ms) AS span_ms
    FROM sess GROUP BY user_id, session_no
)
SELECT user_id, session_start_ms, session_last_ms, n_events, span_ms
FROM per_session
WHERE session_last_ms + {GAP_MS} <= (SELECT MAX(ts_ms) FROM ev)
"""

REGISTRY = [
    ("stream_sessionize", sessionize_stream_query, SESSIONIZE_STREAM_SQL),
]
