"""Config-driven pipeline runner — the reference's user-facing API.

The reference engine is not invoked operator-by-operator: a user hands
it ONE yaml config and `Replicator.java:95-204` wires
source → augmenter (filters/gates) → partitioner → applier from the
config keys (shipped example: `config/config.yaml`). This module is
that surface for the Spark engine: the same keys select among the
already-verified operators and compose them into a single Catalyst
plan (batch) or a foreachBatch stream (same code path — streaming ==
batch by construction).

Key mapping (reference key → effect here):
- ``source.type`` ∈ events_parquet|binlog_files (+
  ``source.binlog.path``) → the supplier: the testdata change feed,
  or byte-level decode of real binlog v4 files (`sources/binlog.py`)
  into the same envelope (BinaryLogSupplier selection in
  Replicator.java:95-204)
- ``source.binlog.checkpoint.{gtid_set,file,pos}`` → the startup
  checkpoint override, applied once by `read_binlog_files` for the
  batch plan and the stream alike: GTID-set mode wins when non-empty,
  else file/pos (`BinaryLogSupplier.java:207-229`); files before the
  start file are pruned from the scan, the rest row-trimmed
- ``source.binlog.max_files_per_trigger`` → the stream's per-trigger
  file bound (backpressure)
- ``augmenter.filter.include`` / ``augmenter.filter.exclude.pattern``
  → `cdc.filters.should_augment_table_sql`
  (ActiveSchemaHelpers shouldAugmentTable)
- ``augmenter.table.merge`` → `cdc.filters.merge_table_name`
  (TableNameMergePatternFilter)
- ``augmenter.skip.query.events`` → drop op == 'QUERY'
  (shouldAugment gate, AugmenterContext)
- ``partitioner.type`` ∈ TRID|XXID|TABLE_NAME|RANDOM|NONE +
  ``replicator.tasks`` → `cdc.partitioners.repartition_for`
  (Replicator.java:179-191 destination-stream fan-out), which shapes
  `build_feed`, the public fan-out view, only. No applier plans it:
  the Kafka applier routes each message by its ``partition`` column,
  `partition_trid(txn_uuid, 8)` (KafkaApplier.java:162)
- ``applier.type`` ∈ count|console|kafka|timemachine →
  `sinks.{count,console,kafka,timemachine}` presentation

Scale: the composition adds NOTHING beyond its operators — filters are
map-side predicates fused into the feed scan, and no applier pays the
partitioner's exchange. AQE does not elide a user repartition
(`REPARTITION_BY_NUM`), and none buys anything here: the count and
time-machine appliers re-shuffle on their own keys, the Kafka applier
carries its routing in a column, and the console sink prints in
`event_id` order. The envelope's hash(user_id) exchange already keeps
each transaction in one task (a transaction's events share one user,
`txn_xid = user_id × 40,000,000 + minute`), so a Kafka plan is that
one exchange and a time-machine plan two, with the organizer's
hash(commit second). Each stage of the chain is one SQL statement over
its input DataFrame (`spark.sql(..., df=...)`), which costs the driver
a handful of py4j round trips where the Column DSL pays one or more
per expression node: a plan builds in about a hundred round trips
rather than ~2,000, a cost a stream pays again on every micro-batch.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc.envelope import CHANGE_FEED_SQL, change_feed_from
from .cdc.filters import (
    MERGE_PATTERN,
    merge_table_name,
    should_augment_table_sql,
)
from .cdc.partitioners import repartition_for
from .session import prep, read_table
from .streaming.drive import epoch_sink

DEFAULT_CONFIG: dict[str, Any] = {
    # source selection (Replicator.java wires the supplier the same
    # way: one config key picks binlog vs test feed):
    # - events_parquet: the testdata change feed (envelope over the
    #   events table — the sandbox stand-in for a live binlog client)
    # - binlog_files: REAL binlog v4 files decoded at byte level
    #   (sources/binlog.py) from `source.binlog.path`, then the same
    #   envelope derivation — the production path for rotated logs
    #   landed on object storage
    "source.type": "events_parquet",
    "source.binlog.path": None,
    # startup-checkpoint override for the binlog source, mirroring
    # BinaryLogSupplier.java:207-229's selection rule: a non-empty
    # gtid_set wins (client skips every transaction inside the set);
    # otherwise a (file, pos) pair resumes strictly after it; with
    # neither, the full retained log replays
    "source.binlog.checkpoint.gtid_set": None,
    "source.binlog.checkpoint.file": None,
    "source.binlog.checkpoint.pos": 4,
    # streaming backpressure: bound each micro-batch to N rotated
    # files (None = Spark's default, all available) — a backlogged
    # 10k-file directory must not become one giant first batch
    "source.binlog.max_files_per_trigger": None,
    "augmenter.filter.include": (),
    "augmenter.filter.exclude.pattern": None,
    "augmenter.table.merge": False,
    "augmenter.skip.query.events": True,
    "partitioner.type": "TRID",
    "replicator.tasks": 8,
    "applier.type": "count",
    # write-batching: collapse each row key's mutation run to its net
    # mutation before the applier (HBaseApplier.java:166-196 keeps only
    # the latest image per key per flush — this is that optimization as
    # a config toggle; OFF by default to preserve full history sinks)
    "applier.collapse": False,
}


def _augment(rows: DataFrame, cfg: Mapping[str, Any]) -> DataFrame:
    """The applier's input, shared by the batch plan and each
    micro-batch so the two cannot drift: envelope → include/exclude
    gate → QUERY-event gate → table merge over `_rows`' output, per
    (already-defaulted) config. A wire `op` column, which only
    the binlog source carries, rides through (`op_col`): a row decoded
    from a WRITE/UPDATE/DELETE_ROWS event keeps its authoritative
    classification."""
    wire_op = "op" if "op" in rows.columns else None
    feed = change_feed_from(rows, op_col=wire_op)
    raw_include = cfg["augmenter.filter.include"] or ()
    if isinstance(raw_include, str):
        # the natural config mistake: a single table name as a plain
        # string — tuple() would shred it into one-character "names"
        # and the whitelist would silently never match
        raw_include = (raw_include,)
    include = tuple(raw_include)
    excl = cfg["augmenter.filter.exclude.pattern"]
    gates = []
    if include or excl:
        gates.append(should_augment_table_sql(
            "table_name", include=include or None, exclude_pattern=excl))
    if cfg["augmenter.skip.query.events"]:
        gates.append("op <> 'QUERY'")
    if gates:
        feed = feed.where(" AND ".join(f"({g})" for g in gates))
    if cfg["augmenter.table.merge"]:
        feed = feed.withColumn(
            "table_name", merge_table_name(F.col("table_name")))
    return feed


def _rows(
    spark: SparkSession, sf_dir: str, cfg: Mapping[str, Any], stream: bool
) -> DataFrame:
    """The one source selection (BinaryLogSupplier selection in
    Replicator.java:95-204), for the batch plan and the foreachBatch
    stream alike: the configured source's envelope input. The binlog
    reader applies the startup checkpoint itself. A binlog-file source
    carries only row events (QUERY events have no row image), so the
    envelope's lag-derived fields (value_before, seq_in_txn,
    commit_ts_ms) are computed over row events only — the rows a real
    replica actually receives. The parquet test feed interleaves
    synthetic QUERY rows BEFORE the lag, so those fields can differ
    between the two sources for the same data; op/table routing and
    counts agree (pinned by test_runner)."""
    kind = cfg["source.type"]
    if kind == "events_parquet":
        return read_table(spark, sf_dir, "events", stream=stream)
    if kind != "binlog_files":
        raise ValueError(f"unknown source.type: {kind}")
    from .sources.binlog import envelope_projection, read_binlog_files

    ckpt_file = cfg["source.binlog.checkpoint.file"]
    return envelope_projection(read_binlog_files(
        spark, cfg["source.binlog.path"],
        resume_gtid_set=cfg["source.binlog.checkpoint.gtid_set"],
        resume_file_pos=None if ckpt_file is None else (
            ckpt_file, int(cfg["source.binlog.checkpoint.pos"])),
        stream=stream,
        max_files_per_trigger=cfg["source.binlog.max_files_per_trigger"],
    ))


def build_feed(
    spark: SparkSession, sf_dir: str, config: Mapping[str, Any]
) -> DataFrame:
    """source → augment-filters → partitioner, per config."""
    cfg = {**DEFAULT_CONFIG, **config}
    rows = _rows(spark, sf_dir, cfg, stream=False)
    return repartition_for(
        _augment(rows, cfg), cfg["partitioner.type"],
        int(cfg["replicator.tasks"]))


def apply_sink(feed: DataFrame, config: Mapping[str, Any]) -> DataFrame:
    """The applier presentation for the configured sink type."""
    cfg = {**DEFAULT_CONFIG, **config}
    kind = cfg["applier.type"]
    if cfg["applier.collapse"]:
        # write-batching: only the count applier consumes the net feed
        # — the time-machine's point is FULL version history, and the
        # kafka/console presentations carry per-event txn metadata the
        # collapse legitimately destroys (a net mutation spans txns)
        if kind != "count":
            raise ValueError(
                "applier.collapse supports only applier.type=count; "
                f"{kind} needs the uncollapsed feed"
            )
        from .cdc.apply import net_effect_from

        # net per (table, row key) — the reference batches per
        # (table, rowkey) (HBaseApplier.java:166-196), so ops on two
        # different physical tables must never collapse together;
        # with table merge ON the name is already the logical table
        collapsed = net_effect_from(
            feed.where(F.col("op").isin("INSERT", "UPDATE", "DELETE")),
            group_cols=("table_name", "user_id"),
        )
        feed = collapsed.select(F.col("net_op").alias("op"))
    if kind == "count":
        from .sinks.count import count_sink

        return count_sink(feed)
    if kind == "console":
        from .sinks.console import console_format

        return console_format(feed)
    if kind == "kafka":
        from .sinks.kafka import kafka_messages

        return kafka_messages(feed)
    if kind == "timemachine":
        # the applier chain includes the µs-timestamp organizer before
        # the cell writer (RowTimestampOrganizer → HBaseTimeMachineWriter)
        from .cdc.transactions import organized_feed_from
        from .sinks.timemachine import cells_from

        return cells_from(organized_feed_from(feed))
    raise ValueError(f"unknown applier.type: {kind}")


def run_batch(
    spark: SparkSession, sf_dir: str, config: Mapping[str, Any]
) -> DataFrame:
    prep(spark)
    cfg = {**DEFAULT_CONFIG, **config}
    rows = _rows(spark, sf_dir, cfg, stream=False)
    return apply_sink(_augment(rows, cfg), cfg)


def run_stream(
    spark: SparkSession,
    sf_dir: str,
    config: Mapping[str, Any],
    out_dir: str,
    checkpoint_dir: str,
) -> list:
    """The same composition as a foreachBatch stream: each micro-batch
    runs run_batch's transformation (`_augment`, `apply_sink`) over the
    batch slice into the idempotent `out_dir/epoch=<id>` layout
    (`streaming.drive.epoch_sink`). Returns the query's progress
    records, one per epoch."""
    prep(spark)
    cfg = {**DEFAULT_CONFIG, **config}
    return epoch_sink(
        _rows(spark, sf_dir, cfg, stream=True), out_dir, checkpoint_dir,
        lambda batch_df, _: apply_sink(_augment(batch_df, cfg), cfg),
    )


# ------------------------------------------------ oracle-checked demo
#
# The registered entry runs a config that exercises every stage:
# H1-2024 exclusion with a January whitelist, monthly table merge,
# QUERY-event gate, TABLE_NAME partitioner, and a per-(table, op)
# count applier (count sink keyed finer so the partitioner's routing
# column survives into the checked output).

DEMO_CONFIG: dict[str, Any] = {
    "augmenter.filter.include": ("users_202401",),
    "augmenter.filter.exclude.pattern": "users_2024(0[1-6])$",
    "augmenter.table.merge": True,
    "augmenter.skip.query.events": True,
    "partitioner.type": "TABLE_NAME",
    "replicator.tasks": 8,
    "applier.type": "count",
}


def runner_pipeline_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    feed = build_feed(spark, sf_dir, DEMO_CONFIG)
    return feed.groupBy("table_name", "op").agg(
        F.count("*").alias("n_events")
    )


RUNNER_PIPELINE_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
kept AS (
    SELECT * FROM feed
    WHERE ((NOT regexp_matches(table_name, 'users_2024(0[1-6])$'))
           OR table_name IN ('users_202401'))
      AND op <> 'QUERY'
),
merged AS (
    SELECT regexp_replace(table_name, '{MERGE_PATTERN}', '')
        AS table_name, op
    FROM kept
)
SELECT table_name, op, COUNT(*) AS n_events
FROM merged GROUP BY 1, 2
"""

REGISTRY = [
    ("runner_pipeline", runner_pipeline_query, RUNNER_PIPELINE_SQL),
]
