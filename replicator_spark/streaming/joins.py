"""Stream-stream join: click→purchase attribution within a time bound.

The canonical two-stream correlation (funnel/attribution analysis, or
in CDC terms: correlating two change streams of related tables). Both
sides carry event-time watermarks and the join condition bounds the
time skew, so Spark's symmetric hash join can evict state once the
watermark passes `click_ts + ATTRIB_WINDOW_MS` — state stays bounded
no matter how long the streams run (without the bound the state store
grows forever; THAT is the 100 TB failure mode this operator avoids).

Emission: INNER stream-stream joins emit a pair as soon as both sides
have arrived — the watermark only controls state eviction and
late-data drop, not emission. Draining one input file, everything
arrives before the watermark first advances, so the result equals
the batch range join exactly — which is the oracle.

Scale shape: both streams hash-partition on user_id (the equi-key);
the range predicate prunes in the per-key state; one exchange per
side.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_table
from .drive import file_sink

ATTRIB_WINDOW_MS = 10 * 60 * 1000  # purchase within 10 min of the click


def attribution_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events", stream=True).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts div 1000000").alias("ts_ms"),
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_ms").alias("click_ms"),
            F.timestamp_millis(F.col("ts_ms")).alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_ms").alias("purchase_ms"),
            F.timestamp_millis(F.col("ts_ms")).alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(
                f"INTERVAL {ATTRIB_WINDOW_MS} MILLISECONDS"
            )
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("purchase_ms") - F.col("click_ms")).alias("gap_ms"),
    )
    return file_sink(joined, "stream_attrib_")


ATTRIBUTION_JOIN_SQL = f"""
WITH ev AS (
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
)
SELECT c.user_id AS user_id,
    c.event_id AS click_id,
    p.event_id AS purchase_id,
    p.ts_ms - c.ts_ms AS gap_ms
FROM ev c JOIN ev p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts_ms >= c.ts_ms AND p.ts_ms <= c.ts_ms + {ATTRIB_WINDOW_MS}
"""

REGISTRY = [
    ("stream_attribution_join", attribution_join_query, ATTRIBUTION_JOIN_SQL),
]
