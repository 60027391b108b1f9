"""Change-event envelope: turn the driver's ``events`` stream table into
the canonical CDC change feed (FIXTURES.md F5; reference model:
AugmentedEvent/AugmentedRow — augmenter-model/.../AugmentedEvent.java:15-61,
AugmentedRow.java:15-66).

The driver's ``events.parquet`` is a generic (event_id, ts, user_id,
event_type, value, props) stream. We derive a deterministic change feed
from it with *engine-portable* expressions (identical results in Spark
and DuckDB) so every downstream CDC operator is oracle-checkable:

- ``op``           event_type → INSERT/UPDATE/DELETE/QUERY
                   (AugmentedEventType analog)
- ``table_name``   'users_' + yyyyMM(ts) — monthly-suffixed physical
                   tables, exercising the table-name merge filter
                   (TableNameMergePatternFilter.java:42-100)
- ``txn_xid``      user_id*40_000_000 + minute-bucket(ts): all events of
                   one user in one minute form a transaction (binlog
                   transactions are contiguous per connection)
- ``txn_uuid``     md5(txn_xid) — GTID-identifier analog
- ``commit_ts_ms`` max event ts within the txn — the reference stamps
                   every row with the COMMIT/XID event's timestamp
                   (CurrentTransaction.java:40-139)
- ``seq_in_txn``   event order inside the transaction
- ``value_before/props_before``  previous value of the row (lag over the
                   per-user history) — binlog_row_image=FULL before-image
                   (EventDeserializer.java:37-57)

Scale notes (100 TB): the feed is computed with one keyed window
exchange, a hash-partition on user_id. The before-image lag sorts by
event_id within it, and the txn-scoped aggregates, keyed (user_id,
txn_xid), reuse it with only a sort. It is a narrow, combiner-free
shuffle on a high-cardinality key; no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import prep, read_table

TXN_USER_STRIDE = 40_000_000  # > minute-index of any 2024+ timestamp

# op classification: HeaderAugmenter.java:16-49 maps binlog event kinds
# to AugmentedEventType {INSERT, UPDATE, DELETE, QUERY}.
OP_CASE_SQL = """CASE event_type
    WHEN 'signup' THEN 'INSERT'
    WHEN 'click' THEN 'UPDATE'
    WHEN 'purchase' THEN 'UPDATE'
    WHEN 'error' THEN 'DELETE'
    ELSE 'QUERY' END"""


def change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical change-feed DataFrame (one row per change event)."""
    prep(spark)
    return change_feed_from(read_table(spark, sf_dir, "events"))


def change_feed_from(ev: DataFrame, op_col: str = None) -> DataFrame:
    """Envelope derivation from an events DataFrame (batch or a
    foreachBatch micro-batch — same code path, SURVEY §2.2: the Streams
    framework's job is done by Structured Streaming itself).

    `op_col` names a pre-classified op column to carry through instead
    of the OP_CASE_SQL payload heuristic — the binlog-file source sets
    it, because a row decoded from a WRITE/UPDATE/DELETE_ROWS event is
    authoritatively that op on the wire regardless of what its payload
    columns look like (re-deriving from event_type could reclassify a
    real row change as QUERY and silently drop it at the augmenter
    gate)."""
    # the binlog wire reader surfaces the UPDATE before-image
    # (value_before_wire/props_before_wire): carry it through as the
    # FALLBACK for the lag-derived fields, so a user's first row in a
    # micro-batch whose true predecessor lives in an earlier batch
    # still gets its before-image (batch-local lag is NULL there —
    # the streaming/job.py hazard). Within one batch the lag wins,
    # keeping the single-batch outputs byte-identical. A DELETE_ROWS
    # event's only image IS the before-image (the row being removed):
    # it rides the payload columns, so DELETE falls back to the row.
    wire = op_col is not None and "value_before_wire" in ev.columns
    wire_cols = ", value_before_wire, props_before_wire" if wire else ""

    def before(col: str, wire_col: str) -> str:
        upd, dele = (f", {wire_col}", f", {col}") if wire else ("", "")
        return (f"CASE WHEN op = 'UPDATE' THEN coalesce(_prev_{col}{upd})"
                f" WHEN op = 'DELETE' THEN coalesce(_prev_{col}{dele}) END")

    # Single-exchange window plan: the per-user lag window is computed
    # first (exchange on user_id); the txn-scoped windows are keyed
    # (user_id, txn_xid), which hash-partitioning on user_id already
    # satisfies (subset rule) — Spark adds only a sort, no re-shuffle.
    # txn_xid is user-strided, so prefixing user_id doesn't change the
    # grouping. At 100 TB this halves the shuffled bytes of the feed.
    # ts arrives as raw nanos (nanosAsLong); work in epoch millis with
    # integer floor-div: double division loses ulps at ns magnitude and
    # shifts the millisecond by one.
    return ev.sparkSession.sql(f"""
SELECT event_id, op, db, table_name, ts_ms, user_id, txn_xid,
    md5(CAST(txn_xid AS STRING)) AS txn_uuid,
    max(ts_ms) OVER (PARTITION BY user_id, txn_xid) AS commit_ts_ms,
    row_number() OVER (PARTITION BY user_id, txn_xid ORDER BY event_id)
        AS seq_in_txn,
    {before("value", "value_before_wire")} AS value_before,
    CASE WHEN op IN ('INSERT', 'UPDATE') THEN value END AS value_after,
    {before("props", "props_before_wire")} AS props_before,
    CASE WHEN op IN ('INSERT', 'UPDATE') THEN props END AS props_after
FROM (
    SELECT *, lag(value) OVER w_user AS _prev_value,
        lag(props) OVER w_user AS _prev_props
    FROM (
        SELECT event_id, {op_col or OP_CASE_SQL} AS op, 'testdb' AS db,
            concat('users_', date_format(timestamp_millis(ts_ms), 'yyyyMM'))
                AS table_name,
            ts_ms, user_id,
            user_id * {TXN_USER_STRIDE} + (ts_ms div 60000) AS txn_xid,
            value, props{wire_cols}
        FROM (
            SELECT {op_col + ", " if op_col else ""}event_id,
                ts div 1000000 AS ts_ms,
                user_id, event_type, value, props{wire_cols}
            FROM {{df}}
        )
    )
    WINDOW w_user AS (PARTITION BY user_id ORDER BY event_id)
)""", df=ev)


# DuckDB oracle: identical derivation over the pre-registered `events`
# view (ts is TIMESTAMP_NS there; epoch_ms(ts) == Spark's `ts div 1e6`).
CHANGE_FEED_SQL = f"""
WITH base AS (
    SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props
    FROM events
), env AS (
    SELECT event_id,
        {OP_CASE_SQL} AS op,
        'testdb' AS db,
        'users_' || strftime(make_timestamp(ts_ms * 1000), '%Y%m') AS table_name,
        ts_ms, user_id,
        user_id * {TXN_USER_STRIDE} + (ts_ms // 60000) AS txn_xid,
        value, props
    FROM base
)
SELECT event_id, op, db, table_name, ts_ms, user_id, txn_xid,
    md5(CAST(txn_xid AS VARCHAR)) AS txn_uuid,
    MAX(ts_ms) OVER (PARTITION BY txn_xid) AS commit_ts_ms,
    ROW_NUMBER() OVER (PARTITION BY txn_xid ORDER BY event_id) AS seq_in_txn,
    CASE WHEN op IN ('UPDATE','DELETE')
         THEN LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) END
        AS value_before,
    CASE WHEN op IN ('INSERT','UPDATE') THEN value END AS value_after,
    CASE WHEN op IN ('UPDATE','DELETE')
         THEN LAG(props) OVER (PARTITION BY user_id ORDER BY event_id) END
        AS props_before,
    CASE WHEN op IN ('INSERT','UPDATE') THEN props END AS props_after
FROM env
"""


def change_feed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the envelope itself is the first checkable op."""
    return change_feed(spark, sf_dir)
