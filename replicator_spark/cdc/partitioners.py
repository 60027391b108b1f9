"""Partitioner strategies — the reference's exchange operators.

Reference: applier/Partitioner.java:15-88, a
BiFunction<AugmentedEvent,Integer,Integer>:
- TRID (default): hash(txn GTID identifier) % n — all events of one
  transaction land in one partition (:47-73)
- XXID: xxid unsigned-mod n (:34-46)
- TABLE_NAME: hash(db.table) % n (:16-33)
- RANDOM / NONE (:74-85)

In Spark the exchange is `repartition_for`'s `repartition(n, key)`, which
shapes only the runner's public fan-out view (`runner.build_feed`); no
applier plans it. The reference's applier routes by the partitioner's
choice (KafkaApplier.java:162), and here that choice is a column: the
Kafka message's `partition` is `partition_trid(txn_uuid, 8)`, and the
functions below also drive the oracle-checked partition-assignment
query. For hash-based strategies we use an md5-derived bucket (first
hex nibble → 0..15) so the assignment is engine-portable; Spark's
Murmur3 shuffle hash is a different hash, so a `repartition` split
would not match the Kafka partitions anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .envelope import CHANGE_FEED_SQL, change_feed

_HEX = "0123456789abcdef"


def md5_bucket(col: Column, n: int = 16) -> Column:
    """Deterministic hash-bucket 0..n-1 (n ≤ 16) from md5's first nibble."""
    nibble = F.instr(F.lit(_HEX), F.substring(F.md5(col.cast("string")), 1, 1)) - 1
    return (nibble % F.lit(n)).cast("int")


def md5_bucket_sql(expr: str, n: int = 16) -> str:
    """`md5_bucket` as a Spark SQL expression over ``expr``."""
    first_hex = f"substring(md5(CAST({expr} AS STRING)), 1, 1)"
    return f"CAST((instr('{_HEX}', {first_hex}) - 1) % {n} AS INT)"


def partition_trid(col_txn_uuid: Column, n: int) -> Column:
    return md5_bucket(col_txn_uuid, n)


def partition_xxid(col_xid: Column, n: int) -> Column:
    return (F.pmod(col_xid, F.lit(n))).cast("int")


def partition_table(col_db: Column, col_table: Column, n: int) -> Column:
    return md5_bucket(F.concat_ws(".", col_db, col_table), n)


def repartition_for(df: DataFrame, strategy: str, n: int) -> DataFrame:
    """The physical exchange: route a change feed like the reference's
    destination-stream fan-out (Replicator.java:179-191)."""
    if strategy == "TRID":
        return df.repartition(n, "txn_uuid")
    if strategy == "XXID":
        return df.repartition(n, "txn_xid")
    if strategy == "TABLE_NAME":
        return df.repartition(n, "db", "table_name")
    if strategy == "RANDOM":
        return df.repartition(n)
    if strategy == "NONE":
        return df.coalesce(1)
    raise ValueError(f"unknown partitioner strategy: {strategy}")


_N = 8


def partitioners_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-strategy partition assignment counts (n=8)."""
    feed = change_feed(spark, sf_dir)
    assigned = feed.select(
        partition_trid(F.col("txn_uuid"), _N).alias("p_trid"),
        partition_xxid(F.col("txn_xid"), _N).alias("p_xxid"),
        partition_table(F.col("db"), F.col("table_name"), _N).alias(
            "p_table"
        ),
    )
    return (
        assigned.groupBy("p_trid", "p_xxid", "p_table")
        .agg(F.count("*").alias("n_events"))
    )


PARTITIONERS_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
assigned AS (
    SELECT
        CAST((strpos('{_HEX}', substr(md5(txn_uuid), 1, 1)) - 1) % {_N}
             AS INT) AS p_trid,
        CAST(txn_xid % {_N} AS INT) AS p_xxid,
        CAST((strpos('{_HEX}',
             substr(md5(db || '.' || table_name), 1, 1)) - 1) % {_N}
             AS INT) AS p_table
    FROM feed
)
SELECT p_trid, p_xxid, p_table, COUNT(*) AS n_events
FROM assigned
GROUP BY 1, 2, 3
"""
