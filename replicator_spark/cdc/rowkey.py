"""Salted HBase-style row keys.

Reference: HBaseRowKeyMapper.getSaltedHBaseRowKey
(applier/hbase/schema/HBaseRowKeyMapper.java:24-58, salt :74-100):
``md5(pk1)[0:8] ++ ";" ++ join(pk_values, ";")`` — the md5 prefix of the
first PK part spreads lexicographically-adjacent keys across regions
(anti-hotspotting). UPDATE keys come from the after-image (:39-42);
no-PK tables are rejected (:48-50).

Spark-first: pure column expressions (md5/substring/concat_ws), fully
codegen'd — no UDF. At 100 TB the salt is exactly what keeps any
downstream partition-by-rowkey write spread evenly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .envelope import CHANGE_FEED_SQL, change_feed

SALT_LEN = 8  # hex chars of md5(pk1) prefixed to the key


def salted_rowkey(pk_cols: Sequence[Column]) -> Column:
    """md5-salted composite rowkey from primary-key columns (as strings)."""
    if not pk_cols:
        # HBaseRowKeyMapper.java:48-50 — tables without a PK are an error.
        raise ValueError("salted_rowkey: table has no primary key")
    pk_strs = [c.cast("string") for c in pk_cols]
    return F.concat_ws(
        ";", F.substring(F.md5(pk_strs[0]), 1, SALT_LEN), *pk_strs
    )


def salted_rowkey_sql(pk_names: Sequence[str]) -> str:
    """`salted_rowkey` as a Spark SQL expression over PK column names."""
    pk_strs = [f"CAST({c} AS STRING)" for c in pk_names]
    return (f"concat_ws(';', substring(md5({pk_strs[0]}), 1, {SALT_LEN}), "
            f"{', '.join(pk_strs)})")


def rowkey_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = change_feed(spark, sf_dir)
    return feed.select(
        "event_id",
        "table_name",
        salted_rowkey([F.col("user_id")]).alias("rowkey"),
    )


ROWKEY_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT event_id, table_name,
    substr(md5(CAST(user_id AS VARCHAR)), 1, {SALT_LEN})
        || ';' || CAST(user_id AS VARCHAR) AS rowkey
FROM feed
"""


# Designated payload/context table: its rows are keyed by transaction
# UUID, not by PK (HBaseRowKeyMapper.getPayloadTableHBaseRowKey:60-67) —
# the payload table stores one opaque context blob per transaction.
def payload_rowkey_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = change_feed(spark, sf_dir)
    # payload table := the January table of the feed's first year
    payload = feed.agg(F.min("table_name").alias("t"))
    with_payload = feed.crossJoin(F.broadcast(payload))
    return with_payload.select(
        "event_id",
        "table_name",
        F.when(F.col("table_name") == F.col("t"), F.col("txn_uuid"))
        .otherwise(salted_rowkey([F.col("user_id")]))
        .alias("rowkey"),
        (F.col("table_name") == F.col("t")).alias("is_payload"),
    )


PAYLOAD_ROWKEY_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
payload AS (SELECT MIN(table_name) AS t FROM feed)
SELECT event_id, table_name,
    CASE WHEN table_name = t THEN txn_uuid
         ELSE substr(md5(CAST(user_id AS VARCHAR)), 1, {SALT_LEN})
              || ';' || CAST(user_id AS VARCHAR) END AS rowkey,
    table_name = t AS is_payload
FROM feed, payload
"""
