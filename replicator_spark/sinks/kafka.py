"""Kafka change-stream sink: JSON key/value presentation + partition
routing; the Avro twin is gated on the spark-avro package.

Reference: KafkaApplier.java:155-238 — per event: partition =
partitioner(event), key = JSON header, value = JSON event data; subject
naming `bigdata-<db>-<table>-value` (AugmentedEventHeader.schemaKey:
63-69); meta fields __timestamp/__is_deleted/__binlog_position ride the
record (EventDataPresenterAvro.java:265-269).

There is no broker in this container; `write_to_kafka` wires the real
`format("kafka")` writer and is exercised only when a bootstrap server
is configured. The message *presentation* is pure DataFrame code and
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..cdc.envelope import CHANGE_FEED_SQL, change_feed
from ..cdc.partitioners import md5_bucket_sql

N_PARTITIONS = 8


def kafka_messages(feed: DataFrame) -> DataFrame:
    """event → (topic, partition, key, value) — KafkaApplier's JSON
    presentation. Field order fixed; NULLs carried via the reference's
    'NULL' sentinel so both engines serialize identically."""
    return feed.sparkSession.sql(f"""
SELECT event_id,
    concat('bigdata-', db, '-', table_name, '-value') AS topic,
    {md5_bucket_sql("txn_uuid", N_PARTITIONS)} AS `partition`,
    to_json(struct(event_id AS event_id, op AS op, db AS db,
        table_name AS `table`, commit_ts_ms AS __timestamp,
        op = 'DELETE' AS __is_deleted)) AS key,
    to_json(struct(txn_uuid AS txn_uuid, txn_xid AS txn_xid,
        coalesce(CAST(value_before AS STRING), 'NULL') AS value_before,
        coalesce(CAST(value_after AS STRING), 'NULL') AS value_after,
        coalesce(props_after, 'NULL') AS props_after)) AS value
FROM {{df}}
WHERE op <> 'QUERY'""", df=feed)


def kafka_messages_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kafka_messages(change_feed(spark, sf_dir))


KAFKA_MESSAGES_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT event_id,
    'bigdata-' || db || '-' || table_name || '-value' AS topic,
    CAST((strpos('0123456789abcdef', substr(md5(txn_uuid), 1, 1)) - 1)
         % {N_PARTITIONS} AS INT) AS partition,
    to_json(struct_pack(
        event_id := event_id, op := op, db := db, "table" := table_name,
        "__timestamp" := commit_ts_ms,
        "__is_deleted" := op = 'DELETE')) AS key,
    to_json(struct_pack(
        txn_uuid := txn_uuid, txn_xid := txn_xid,
        value_before := COALESCE(CAST(value_before AS VARCHAR), 'NULL'),
        value_after := COALESCE(CAST(value_after AS VARCHAR), 'NULL'),
        props_after := COALESCE(props_after, 'NULL'))) AS value
FROM feed WHERE op <> 'QUERY'
"""


def write_to_kafka(
    messages: DataFrame, bootstrap_servers: str, checkpoint: str
) -> None:
    """The real sink (needs a broker; config-gated like the reference's
    applier.type switch, Applier.java:25-52)."""
    (
        messages.selectExpr(
            "topic", "CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .save()
    )


REGISTRY = [("sink_kafka_messages", kafka_messages_query, KAFKA_MESSAGES_SQL)]
