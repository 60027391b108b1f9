"""Stream-static dimension enrichment: the change-event stream joined
to a static dimension table — the replicator analog of augmenting
change events with warm metadata (the reference's DataAugmenter reads
the active-schema dimension the same way; SURVEY §2.4).

Spark-first: a STATELESS stream-static left join. The static side is
broadcast (dimension tables are small relative to the stream), so each
micro-batch is a map-side hash join: no shuffle of the stream, no
state store, every input row emits exactly once regardless of
micro-batch boundaries — which is why the oracle is a plain batch LEFT
JOIN with no watermark withholding clause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.envelope import OP_CASE_SQL
from ..session import read_table
from .drive import file_sink


def enrich_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    ev = read_table(spark, sf_dir, "events", stream=True).select(
        "event_id",
        "user_id",
        F.expr(OP_CASE_SQL).alias("op"),
        F.expr("ts div 1000000").alias("ts_ms"),
    )
    enriched = ev.join(F.broadcast(dim), "user_id", "left")
    return file_sink(enriched, "stream_enrich_")


ENRICH_STREAM_SQL = f"""
WITH ev AS (
    SELECT event_id, user_id, {OP_CASE_SQL} AS op, epoch_ms(ts) AS ts_ms
    FROM events
)
SELECT ev.user_id AS user_id, event_id, op, ts_ms,
    c_mktsegment AS segment, CAST(c_acctbal AS DOUBLE) AS acctbal
FROM ev LEFT JOIN customer ON ev.user_id = c_custkey
"""

REGISTRY = [("stream_enrich", enrich_stream_query, ENRICH_STREAM_SQL)]
