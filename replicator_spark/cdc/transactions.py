"""Transaction grouping, per-second transaction sequence, and the
microsecond version-timestamp organizer.

Reference semantics:
- Transaction grouping (CurrentTransaction.java:40-139,
  Augmenter.java:149-191): events buffer from BEGIN/GTID to COMMIT/XID;
  at commit every event is stamped with (commitTs, gtid, xxid, txnSeq).
  In Spark this is *window arithmetic over the keyed feed*, not a
  stateful buffer — there is no per-transaction memory bound to blow
  (the reference's oversize-txn rewind, Augmenter.java:151-160, is
  unnecessary here).
- Per-second txn sequence (AugmenterContext.updateTransactionCounter
  :579-591): counts transactions committing within the same second —
  disambiguates versions inside one second. → dense_rank over commit
  second.
- Microsecond organizer (RowTimestampOrganizer.java:46-103, span=50µs
  :60): base µs = commit_ms*1000 + txnSeq*100
  (AugmentedEventRowExtractor.java:91-108); within a (table, rowkey,
  txn) the first version is shifted to µs-50, each next +1, capped at
  the commit µs — ≥50 same-row changes saturate at the commit timestamp
  (intentional last-writer-wins, MicrosecondValidationTestImpl).

Scale: everything is `row_number`/`dense_rank`/`max` over keyed windows.
The row rank within (table, rowkey, txn) reuses the envelope's user_id
exchange; the per-second txn ordering partitions by commit second,
which is high-cardinality in a real stream, and is the organizer's one
exchange. No state store, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .envelope import CHANGE_FEED_SQL, change_feed
from .rowkey import salted_rowkey_sql

VERSION_SPAN_US = 50  # RowTimestampOrganizer.java:60


def txn_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per transaction: commit stamp + member stats.

    The groupBy is the Spark analog of CurrentTransaction.getAndClear —
    map-side partial aggregation makes this a combiner-backed shuffle.
    """
    feed = change_feed(spark, sf_dir)
    return feed.groupBy("txn_xid", "txn_uuid").agg(
        F.max("commit_ts_ms").alias("commit_ts_ms"),
        F.count("*").alias("n_events"),
        F.countDistinct("table_name").alias("n_tables"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


TXN_GROUP_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT txn_xid, txn_uuid,
    MAX(commit_ts_ms) AS commit_ts_ms,
    COUNT(*) AS n_events,
    COUNT(DISTINCT table_name) AS n_tables,
    MIN(event_id) AS first_event_id,
    MAX(event_id) AS last_event_id
FROM feed
GROUP BY txn_xid, txn_uuid
"""


def txn_sequence(txns: DataFrame) -> DataFrame:
    """Stamp each txn with its order within its commit second."""
    w = W.partitionBy(F.expr("commit_ts_ms div 1000")).orderBy("txn_xid")
    return txns.withColumn("txn_seq", F.row_number().over(w) - F.lit(1))


def txn_seq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    txns = txn_group_query(spark, sf_dir)
    return txn_sequence(txns).select(
        "txn_xid",
        (F.expr("commit_ts_ms div 1000")).alias("commit_sec"),
        "txn_seq",
    )


TXN_SEQ_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
txns AS (
    SELECT txn_xid, MAX(commit_ts_ms) AS commit_ts_ms
    FROM feed GROUP BY txn_xid
)
SELECT txn_xid, commit_ts_ms // 1000 AS commit_sec,
    ROW_NUMBER() OVER (
        PARTITION BY commit_ts_ms // 1000 ORDER BY txn_xid
    ) - 1 AS txn_seq
FROM txns
"""


def organized_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed stamped with rowkey + µs version timestamp.

    version_us = commit_ms*1000 + txn_seq*100 - 50
                 + min(rank_within(table,rowkey,txn) - 1, 50)
    """
    return organized_feed_from(change_feed(spark, sf_dir))


def organized_feed_from(feed_df: DataFrame) -> DataFrame:
    # (user_id, table_name, txn_xid) groups identically to the
    # reference's (table, rowkey, txn) — rowkey is a bijection of the
    # PK (user_id) — while staying a superset of the user_id hash
    # partitioning, so the row-rank window reuses the envelope's
    # exchange (sort only) when nothing re-partitions the feed in
    # between. The per-second txn sequence is then dense_rank over the
    # rows: it ranks distinct txn_xids within each commit second —
    # identical to aggregating txns first, without the extra
    # groupBy+join — and is the one new exchange, on the
    # high-cardinality commit second.
    return feed_df.sparkSession.sql(f"""
SELECT * EXCEPT (row_rank),
    commit_ts_ms * 1000 + txn_seq * 100 - {VERSION_SPAN_US}
        + least(row_rank, {VERSION_SPAN_US}) AS version_us
FROM (
    SELECT *,
        dense_rank() OVER (PARTITION BY commit_ts_ms div 1000 ORDER BY txn_xid)
            - 1 AS txn_seq
    FROM (
        SELECT *,
            row_number() OVER (PARTITION BY user_id, table_name, txn_xid
                               ORDER BY event_id) - 1 AS row_rank
        FROM (SELECT *, {salted_rowkey_sql(["user_id"])} AS rowkey FROM {{df}})
    )
)""", df=feed_df)


# Shared SQL prefix: the organized feed as a CTE chain (oracle analog of
# organized_feed()).
ORGANIZED_FEED_SQL = f"""
WITH feed0 AS ({CHANGE_FEED_SQL}),
feed AS (
    SELECT *, substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
        || ';' || CAST(user_id AS VARCHAR) AS rowkey
    FROM feed0
),
txns AS (
    SELECT txn_xid, MAX(commit_ts_ms) AS commit_ts_ms
    FROM feed GROUP BY txn_xid
),
seqs AS (
    SELECT txn_xid,
        ROW_NUMBER() OVER (
            PARTITION BY commit_ts_ms // 1000 ORDER BY txn_xid
        ) - 1 AS txn_seq
    FROM txns
),
organized AS (
    SELECT f.*, s.txn_seq,
        f.commit_ts_ms * 1000 + s.txn_seq * 100 - {VERSION_SPAN_US}
        + LEAST(
            ROW_NUMBER() OVER (
                PARTITION BY f.table_name, f.rowkey, f.txn_xid
                ORDER BY f.event_id
            ) - 1, {VERSION_SPAN_US}) AS version_us
    FROM feed f JOIN seqs s USING (txn_xid)
)
"""


def organize_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return organized_feed(spark, sf_dir).select(
        "event_id", "table_name", "rowkey", "txn_xid", "version_us"
    )


MICRO_ORGANIZER_SQL = (
    ORGANIZED_FEED_SQL
    + """
SELECT event_id, table_name, rowkey, txn_xid, version_us FROM organized
"""
)
