"""Streaming ops over the events table: the time-machine stream, the
watermarked window/dedup/top-k/quantile aggregations, and the
streaming MERGE.

Reference analog (Replicator.java:151-204): sourceStream (augment) →
destinationStream (applier). Here the micro-batch loop, checkpointing,
backpressure, retries, and partitioned queues are all Spark's
(SURVEY.md §2.2 — "no port needed"), driven once in `drive.py`. The
time-machine stream is `runner.run_stream` with the time-machine
applier: each epoch runs the *same code path* as batch
(change_feed_from → organized_feed_from → cells_from), so streaming ==
batch by construction, and the oracle for the streaming query is
literally the batch cells SQL.

Exactly-once: per-epoch overwrite (`drive.epoch_sink`) + deterministic
version timestamps — a replayed micro-batch rewrites identical cells
(the reference's idempotent-Put argument, HBaseApplier.java:166-196) —
plus the streaming checkpoint (the safe-GTID-watermark analog, SURVEY
§2.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.envelope import change_feed_from
from ..runner import run_stream
from ..session import read_table, scratch_dir
from ..sinks.timemachine import TIMEMACHINE_CELLS_SQL
from .drive import epoch_sink, file_sink

# Canonical (post-normalize_events) events schema: ts is INT64
# epoch-nanos regardless of the physical parquet encoding. Fixtures
# that write their own event files write this form.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch nanos (canonical)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# The time-machine stream is the runner's: with the QUERY gate off,
# each epoch runs exactly change_feed_from → organized_feed_from →
# cells_from (cells_from drops QUERY rows itself, after the organizer,
# so txn_seq/row_rank and version_us match the batch cells SQL).
TIMEMACHINE_STREAM_CONFIG = {
    "applier.type": "timemachine",
    "augmenter.skip.query.events": False,
}


def stream_timemachine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: drive the streaming pipeline to completion and
    return the persisted cells — checked against the *batch* oracle SQL
    (streaming == batch is the assertion). The envelope's lag-derived
    fields are computed within each micro-batch, which is exact here:
    the single events file drains as one batch. A multi-file source
    must carry its before-images on the wire (the binlog reader does;
    tests/test_multibatch.py pins that path)."""
    base = scratch_dir("tm_stream_")
    out = os.path.join(base, "cells")
    run_stream(
        spark, sf_dir, TIMEMACHINE_STREAM_CONFIG, out,
        os.path.join(base, "ckpt"),
    )
    return spark.read.parquet(out).select(
        "event_id",
        "table_name",
        "rowkey",
        "column_name",
        "cell_value",
        "version_us",
        "txn_uuid",
        "txn_xid",
    )


STREAM_TIMEMACHINE_SQL = TIMEMACHINE_CELLS_SQL


def stream_windowed_counts_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked windowed aggregation (the late-data-tolerant op the
    reference never needed — binlog is totally ordered — but a CDC
    engine on Spark gets for free): per-hour per-event-type counts."""
    stream = read_table(spark, sf_dir, "events", stream=True).withColumn(
        "ts_ts", F.timestamp_millis(F.expr("ts div 1000000"))
    )
    agg = (
        stream.withWatermark("ts_ts", "1 hour")
        .groupBy(F.window("ts_ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # decimal-exact sum → order-insensitive (oracle parity)
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    df = file_sink(agg, "tm_win_")
    return df.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n",
        "sum_value",
    )


# Oracle: the same hourly rollup in plain SQL, including the watermark
# emission rule — append mode emits a window only once the watermark
# (max event time - 1h) passes its end, so the trailing windows are
# withheld. That rule is deterministic from the data and expressed in
# the HAVING clause.
STREAM_WINDOWED_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
    event_type, COUNT(*) AS n,
    CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS sum_value
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR
    <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
"""

SLIDE_SEC = 900  # 15 min hop
WIN_SEC = 3600  # 1 h window


def stream_sliding_counts_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked HOPPING-window aggregation (1 h window / 15 min
    slide): the streaming twin of temporal_sliding_window. Spark
    expands each event into its 4 member windows map-side; state is
    one running aggregate per open (window, event_type); append mode
    emits each window once when the watermark passes its end."""
    stream = read_table(spark, sf_dir, "events", stream=True).withColumn(
        "ts_ts", F.timestamp_millis(F.expr("ts div 1000000"))
    )
    agg = (
        stream.withWatermark("ts_ts", "1 hour")
        .groupBy(
            F.window("ts_ts", f"{WIN_SEC} seconds", f"{SLIDE_SEC} seconds"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    return file_sink(agg, "tm_slide_").select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n",
    )


# Oracle: hop expansion (as in temporal_sliding_window) + the append-
# mode emission rule — a window appears once the final watermark
# (max event time - 1h) passes its end.
STREAM_SLIDING_SQL = f"""
WITH ev AS (
    SELECT epoch_ms(ts) AS ts_ms, event_type FROM events
), hopped AS (
    SELECT ((ts_ms // {SLIDE_SEC * 1000}) - j) * {SLIDE_SEC * 1000}
        AS window_start_ms, event_type
    FROM ev CROSS JOIN (
        SELECT unnest(range({WIN_SEC // SLIDE_SEC})) AS j)
)
SELECT window_start_ms, event_type, COUNT(*) AS n
FROM hopped
GROUP BY 1, 2
HAVING window_start_ms + {WIN_SEC * 1000}
    <= (SELECT MAX(ts_ms) FROM ev) - {WIN_SEC * 1000}
"""


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates over the unbounded stream
    (state-store backed — the incremental analog of the batch dedup
    family; at scale the state is pruned by the event-time watermark).
    Emits each distinct (user_id, event_type) once; summarized per
    event_type for the oracle."""
    stream = (
        read_table(spark, sf_dir, "events", stream=True)
        .withColumn("ts_ts", F.timestamp_millis(F.expr("ts div 1000000")))
        .withWatermark("ts_ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return (
        file_sink(stream, "tm_dedup_")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY event_type
"""

TOPK_USERS = 3


def stream_topk_users_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k as STREAM + SERVE: append-mode ranking inside a
    stream is impossible (a window's rank isn't final until the window
    closes), so the production pattern is a two-layer Lambda-free
    split — the stream maintains per-(window, user) counts in the
    state store and emits each finished window once at watermark
    close; the top-k RANKING runs on read over the materialized agg
    (tiny: #windows × #users rows, nothing like raw volume). This is
    exactly how a 100 TB/day leaderboard is served; the raw stream is
    never re-scanned."""
    stream = read_table(spark, sf_dir, "events", stream=True).withColumn(
        "ts_ts", F.timestamp_millis(F.expr("ts div 1000000"))
    )
    agg = (
        stream.withWatermark("ts_ts", "1 hour")
        .groupBy(F.window("ts_ts", "1 hour"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    served = file_sink(agg, "tm_topk_").select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "user_id",
        "n",
    )
    w = W.partitionBy("window_start_ms").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return (
        served.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_USERS)
    )


# Same emission rule as STREAM_WINDOWED_SQL: a window appears only
# once the final watermark (max event time - 1h) passes its end.
STREAM_TOPK_SQL = f"""
WITH agg AS (
    SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        user_id, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR
        <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start_ms ORDER BY n DESC, user_id) AS rank
    FROM agg
)
SELECT window_start_ms, user_id, n, rank FROM ranked
WHERE rank <= {TOPK_USERS}
"""


def stream_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE materialization: the streaming twin of
    cdc_apply_upsert — every micro-batch folds its changes into a
    current-state store via last-writer-wins (max version per key)
    inside foreachBatch. Each epoch writes a deterministic delta
    partition (idempotent on replay, same argument as the
    time-machine sink above); the serving read collapses deltas with
    one max_by pass. At scale the store is a partitioned table and
    the collapse happens on the (pruned) read path or a periodic
    compaction — both operators exist in sinks/timemachine.py."""
    base = scratch_dir("tm_upsert_")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    stream = read_table(spark, sf_dir, "events", stream=True)
    run_upsert_stream(stream, out, ckpt)
    return collapse_upsert_store(spark, out)


def run_upsert_stream(stream: DataFrame, out: str, ckpt: str) -> None:
    def delta(batch_df: DataFrame, _epoch_id: int) -> DataFrame:
        feed = change_feed_from(batch_df).where(F.col("op") != "QUERY")
        ord_k = F.struct("ts_ms", "event_id")
        return feed.select(
            "table_name",
            "user_id",
            "op",
            "ts_ms",
            "event_id",
            F.coalesce(
                F.col("value_after").cast("string"), F.lit("NULL")
            ).alias("value_s"),
        ).groupBy("table_name", "user_id").agg(
            F.max_by("op", ord_k).alias("last_op"),
            F.max_by("value_s", ord_k).alias("value"),
            F.max("ts_ms").alias("last_ts_ms"),
            F.max("event_id").alias("last_event_id"),
            F.count("*").alias("n_changes"),
        )

    epoch_sink(stream, out, ckpt, delta)


def collapse_upsert_store(spark: SparkSession, out: str) -> DataFrame:
    store = spark.read.parquet(out)
    collapse_k = F.struct("last_ts_ms", "last_event_id")
    return (
        store.groupBy("table_name", "user_id")
        .agg(
            F.max_by(F.struct("last_op", "value"), collapse_k).alias("m"),
            F.max("last_ts_ms").alias("last_ts_ms"),
            F.sum("n_changes").alias("n_changes"),
        )
        .select(
            "table_name", "user_id",
            F.col("m.last_op").alias("last_op"),
            F.col("m.value").alias("value"),
            "last_ts_ms", "n_changes",
        )
    )


# Oracle: last-writer-wins over the batch change feed — streaming ==
# batch MERGE. DuckDB arg_max takes a scalar order key: ts_ms
# dominates, event_id breaks ties (valid while event_id < 1e10).
_UPSERT_ORD = "CAST(ts_ms AS HUGEINT) * 10000000000 + event_id"

STREAM_UPSERT_SQL = f"""
WITH feed AS ({{change_feed}}),
keyed AS (
    SELECT table_name, user_id, op, ts_ms, event_id,
        COALESCE(CAST(value_after AS VARCHAR), 'NULL') AS value_s
    FROM feed WHERE op <> 'QUERY'
)
SELECT table_name, user_id,
    arg_max(op, {_UPSERT_ORD}) AS last_op,
    arg_max(value_s, {_UPSERT_ORD}) AS value,
    MAX(ts_ms) AS last_ts_ms,
    CAST(COUNT(*) AS BIGINT) AS n_changes
FROM keyed GROUP BY table_name, user_id
"""


def _upsert_sql() -> str:
    from ..cdc.envelope import CHANGE_FEED_SQL

    return STREAM_UPSERT_SQL.format(change_feed=CHANGE_FEED_SQL)


# ------------------------------------------- streaming quantile sketch
#
# The mergeable fixed-grid quantile sketch (pipeline/sketches.py) run
# AS A STREAM: per-day windows accumulate 128 bin counters in the
# state store (constant-size mergeable state — the property that makes
# the sketch streamable at all; an exact quantile would need the full
# window buffered), append-emitted once the watermark passes, and the
# quantile interpolation runs on the READ path over the emitted
# sketch table (windows × 128 rows — tiny, the serve/store split the
# topk leaderboard uses too). Unlike the batch sketch, bounds must be
# fixed A PRIORI (a stream has no second pass): [0, SKQ_SPAN) with
# overflow clamped into the last bin — the standard streaming-sketch
# trade, documented rather than hidden.

SKQ_NB = 128
SKQ_SPAN = 1024.0  # events.value ∈ [0, ~561] across all SFs
SKQ_QS = (0.5, 0.9, 0.99)


def stream_quantile_sketch_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_table(spark, sf_dir, "events", stream=True).withColumn(
        "ts_ts", F.timestamp_millis(F.expr("ts div 1000000"))
    )
    bin_col = F.least(
        F.greatest(
            F.floor(F.col("value") * SKQ_NB / F.lit(SKQ_SPAN)), F.lit(0)
        ),
        F.lit(SKQ_NB - 1),
    ).cast("int")
    agg = (
        stream.withWatermark("ts_ts", "1 day")
        .groupBy(F.window("ts_ts", "1 day"), bin_col.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )
    sketch = file_sink(agg, "tm_skq_").select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "bin",
        "cnt",
    )
    # read-path interpolation over the emitted sketch (tiny)
    wcum = W.partitionBy("window_start_ms").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wn = W.partitionBy("window_start_ms")
    cum = sketch.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    qs = cum.crossJoin(
        F.broadcast(
            spark.createDataFrame([(qq,) for qq in SKQ_QS], "q double")
        )
    ).withColumn("target", F.col("q") * F.col("n"))
    covering = (
        qs.where(F.col("cum") >= F.col("target"))
        .groupBy("window_start_ms", "q")
        .agg(F.min(F.struct("bin", "cnt", "cum", "n")).alias("s"))
        .select("window_start_ms", "q", "s.*")
    )
    width = F.lit(SKQ_SPAN / SKQ_NB)
    frac = (
        F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))
    ) / F.col("cnt")
    return covering.select(
        "window_start_ms",
        "q",
        "n",
        F.round(width * (F.col("bin") + frac), 6).alias("q_est"),
    )


STREAM_QUANTILE_SQL = f"""
WITH binned AS (
    SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        date_trunc('day', ts) AS day_ts,
        ts,
        CAST(least(greatest(floor(value * {SKQ_NB} / {SKQ_SPAN}), 0),
                   {SKQ_NB - 1}) AS INT) AS bin
    FROM events
), emitted AS (
    -- append-mode emission: a day window leaves the state store only
    -- once the watermark (max event time - 1 day) passes its end
    SELECT window_start_ms, bin, COUNT(*) AS cnt
    FROM binned
    GROUP BY window_start_ms, bin
    HAVING MIN(day_ts) + INTERVAL 1 DAY
        <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
), cum AS (
    SELECT *,
        CAST(SUM(cnt) OVER (PARTITION BY window_start_ms ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        CAST(SUM(cnt) OVER (PARTITION BY window_start_ms) AS BIGINT) AS n
    FROM emitted
), qs AS (
    SELECT c.*, q.q, q.q * c.n AS target
    FROM cum c, (VALUES {", ".join(f"({qq})" for qq in SKQ_QS)}) q(q)
), covering AS (
    SELECT window_start_ms, q, n,
        min_by(bin, bin) AS bin, min_by(cnt, bin) AS cnt,
        min_by(cum, bin) AS cum
    FROM qs WHERE cum >= target
    GROUP BY window_start_ms, q, n
)
SELECT window_start_ms, q, n,
    round({SKQ_SPAN / SKQ_NB} * (bin + (q * n - (cum - cnt)) / cnt), 6)
        AS q_est
FROM covering
"""


REGISTRY = [
    ("stream_timemachine", stream_timemachine_query, STREAM_TIMEMACHINE_SQL),
    (
        "stream_windowed_counts",
        stream_windowed_counts_query,
        STREAM_WINDOWED_SQL,
    ),
    ("stream_dedup_exact", stream_dedup_query, STREAM_DEDUP_SQL),
    (
        "stream_sliding_counts",
        stream_sliding_counts_query,
        STREAM_SLIDING_SQL,
    ),
    ("stream_topk_users", stream_topk_users_query, STREAM_TOPK_SQL),
    ("stream_upsert", stream_upsert_query, _upsert_sql()),
    (
        "stream_quantile_sketch",
        stream_quantile_sketch_query,
        STREAM_QUANTILE_SQL,
    ),
]
