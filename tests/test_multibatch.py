"""Multi-micro-batch streaming correctness: the round-1 advice flagged
that single-file fixtures hide cross-batch bugs (a transaction or
session spanning micro-batches must not emit partial duplicates).
These tests split the events table into 3 time-ordered files, force
one micro-batch per file (maxFilesPerTrigger=1), and assert the
streaming result equals the single-batch/batch-oracle result exactly.
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.slow  # golden/property suite: full-suite seal only (see conftest)


@pytest.fixture(scope="module")
def chunked_dir(spark, sf_dir, tmp_path_factory):
    """events split into 3 parquet files in event-time order (so the
    advancing watermark never classifies a later file as late data)."""
    base = str(tmp_path_factory.mktemp("chunks"))
    from replicator_spark.session import normalize_events

    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    # post-normalize: ts is canonical epoch-nanos long, orderable as-is
    thirds = ev.select("ts").approxQuantile("ts", [0.34, 0.67], 0.001)
    lo, hi = thirds
    parts = [
        ev.where(ev.ts <= lo),
        ev.where((ev.ts > lo) & (ev.ts <= hi)),
        ev.where(ev.ts > hi),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(os.path.join(base, f"chunk{i}"))
    # one directory, 3 data files, lexicographic names follow time order
    import glob
    import shutil

    out = os.path.join(base, "events_dir")
    os.makedirs(out)
    import time

    now = time.time()
    for i in range(3):
        (f,) = glob.glob(os.path.join(base, f"chunk{i}", "part-*.parquet"))
        dst = os.path.join(out, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        # FileStreamSource orders by mtime: tight-loop copies land in the
        # same ms and tie-break arbitrarily, which would let a later
        # (newer-data) chunk batch first and turn earlier chunks into
        # dropped late data. Space the mtimes explicitly.
        os.utime(dst, (now + i * 10, now + i * 10))
    return out


def _stream_one_file_per_batch(spark, events_dir, build, out_dir):
    """Run `build(stream_df) -> DataFrame` over events_dir, one file
    per micro-batch, and return the materialized result."""
    from replicator_spark.streaming.job import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    df = build(stream)
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "out"))
        .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out_dir, "out"))


def test_txn_assembly_across_micro_batches(spark, sf_dir, chunked_dir, tmp_path):
    """A transaction split across micro-batches must emit ONE summary
    row with full totals — identical to the batch GROUP BY restricted
    to watermark-closed transactions."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.envelope import TXN_USER_STRIDE
    from replicator_spark.session import prep
    from replicator_spark.streaming.txn_state import (
        OUT_SCHEMA,
        TXN_BUCKET_MS,
        _assemble,
        STATE_SCHEMA,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    prep(spark)

    def build(stream):
        raw = stream.select(
            "event_id",
            F.expr("ts div 1000000").alias("ts_ms"),
            (
                F.col("user_id") * F.lit(TXN_USER_STRIDE)
                + F.expr("(ts div 1000000) div 60000")
            ).alias("txn_xid"),
        )
        raw = raw.withColumn("commit_ts_ms", F.col("ts_ms")).withColumn(
            "ts_ts", F.timestamp_millis(F.col("ts_ms"))
        )
        return (
            raw.withWatermark("ts_ts", "0 seconds")
            .groupBy("txn_xid")
            .applyInPandasWithState(
                _assemble,
                OUT_SCHEMA,
                STATE_SCHEMA,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )

    got = _stream_one_file_per_batch(
        spark, chunked_dir, build, str(tmp_path)
    )
    # no duplicate emissions per txn
    assert got.groupBy("txn_xid").count().where("count > 1").count() == 0
    # batch expectation: all txns whose bucket closed before max ts
    from replicator_spark.session import normalize_events

    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    feed = ev.select(
        "event_id",
        F.expr("ts div 1000000").alias("ts_ms"),
        (
            F.col("user_id") * F.lit(TXN_USER_STRIDE)
            + F.expr("(ts div 1000000) div 60000")
        ).alias("txn_xid"),
    )
    max_ts = feed.agg(F.max("ts_ms")).collect()[0][0]
    expect = (
        feed.groupBy("txn_xid")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
            F.max("ts_ms").alias("commit_ts_ms"),
        )
        .where(
            (F.expr(f"commit_ts_ms div {TXN_BUCKET_MS}") + 1) * TXN_BUCKET_MS
            < max_ts
        )
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_sessionize_across_micro_batches(spark, sf_dir, chunked_dir, tmp_path):
    """Session windows merging events from different micro-batches must
    equal the batch gaps-and-islands result (closed sessions only)."""
    from pyspark.sql import functions as F

    from replicator_spark.pipeline.sessions import GAP_MS
    from replicator_spark.session import prep

    prep(spark)

    def build(stream):
        ev = stream.select(
            "event_id",
            "user_id",
            F.expr("ts div 1000000").alias("ts_ms"),
        ).withColumn("ts_ts", F.timestamp_millis(F.col("ts_ms")))
        return (
            ev.withWatermark("ts_ts", "0 seconds")
            .groupBy(
                F.session_window("ts_ts", f"{GAP_MS} milliseconds"),
                F.col("user_id"),
            )
            .agg(
                F.count("*").alias("n_events"),
                F.min("ts_ms").alias("session_start_ms"),
                F.max("ts_ms").alias("session_last_ms"),
            )
            .select(
                "user_id", "session_start_ms", "session_last_ms", "n_events"
            )
        )

    got = _stream_one_file_per_batch(
        spark, chunked_dir, build, str(tmp_path)
    )
    from replicator_spark.session import normalize_events

    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ).select("event_id", "user_id", F.expr("ts div 1000000").alias("ts_ms"))
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = (F.col("ts_ms") - F.lag("ts_ms").over(w) >= GAP_MS).cast("int")
    sess = ev.withColumn(
        "session_no",
        F.sum(F.coalesce(gap, F.lit(0))).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]
    expect = (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_last_ms"),
        )
        .where(F.col("session_last_ms") + GAP_MS <= max_ts)
        .select("user_id", "session_start_ms", "session_last_ms", "n_events")
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_foreachbatch_replay_idempotent(spark, sf_dir, tmp_path):
    """An at-least-once retry (full re-run over the same checkpointless
    input) must leave the store byte-identical: epoch subdirs are
    overwritten, not appended (the round-1 advice's duplicate-cell
    scenario)."""
    from replicator_spark.runner import run_stream
    from replicator_spark.streaming.job import TIMEMACHINE_STREAM_CONFIG

    out = str(tmp_path / "cells")
    run_stream(spark, sf_dir, TIMEMACHINE_STREAM_CONFIG, out,
               str(tmp_path / "ck1"))
    first = spark.read.parquet(out)
    n1 = first.count()
    sum1 = first.agg({"version_us": "sum"}).collect()[0][0]
    # replay with a FRESH checkpoint → same epochs re-fire → overwrite
    run_stream(spark, sf_dir, TIMEMACHINE_STREAM_CONFIG, out,
               str(tmp_path / "ck2"))
    second = spark.read.parquet(out)
    assert second.count() == n1
    assert second.agg({"version_us": "sum"}).collect()[0][0] == sum1


def test_upsert_merge_across_micro_batches(spark, sf_dir, chunked_dir, tmp_path):
    """Last-writer-wins MERGE split over 3 epochs must collapse to the
    exact single-batch applied state — the telescoping property of the
    per-epoch argmax."""
    import os

    from pyspark.sql import functions as F

    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.streaming.job import (
        EVENTS_SCHEMA,
        collapse_upsert_store,
        run_upsert_stream,
    )

    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    run_upsert_stream(stream, out, ckpt)
    # 3 files → 3 epochs, each with its own delta partition
    epochs = {d for d in os.listdir(out) if d.startswith("epoch=")}
    assert len(epochs) == 3, epochs
    streamed = collapse_upsert_store(spark, out)

    batch_feed = change_feed_from(
        spark.read.schema(EVENTS_SCHEMA).parquet(chunked_dir)
    ).where(F.col("op") != "QUERY")
    ord_k = F.struct("ts_ms", "event_id")
    batch = (
        batch_feed.select(
            "table_name", "user_id", "op", "ts_ms", "event_id",
            F.coalesce(
                F.col("value_after").cast("string"), F.lit("NULL")
            ).alias("value_s"),
        )
        .groupBy("table_name", "user_id")
        .agg(
            F.max_by("op", ord_k).alias("last_op"),
            F.max_by("value_s", ord_k).alias("value"),
            F.max("ts_ms").alias("last_ts_ms"),
            F.count("*").alias("n_changes"),
        )
    )
    cols = ["table_name", "user_id", "last_op", "value", "last_ts_ms", "n_changes"]
    assert streamed.select(*cols).exceptAll(batch.select(*cols)).count() == 0
    assert batch.select(*cols).exceptAll(streamed.select(*cols)).count() == 0


def test_ewma_state_across_micro_batches(spark, sf_dir, chunked_dir, tmp_path):
    """The keyed EWMA state must make the fold batch-split invariant:
    3 time-ordered micro-batches == the batch full-history fold."""
    import os

    from replicator_spark.queries.analytics import ewma_query
    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.ewma_state import (
        collapse_ewma_store,
        run_ewma_stream,
    )
    from replicator_spark.streaming.job import EVENTS_SCHEMA

    base = str(tmp_path)
    out = os.path.join(base, "out")
    stream = normalize_events(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    run_ewma_stream(stream, out, os.path.join(base, "ckpt"))
    got = sorted(
        tuple(r)
        for r in collapse_ewma_store(spark, out).collect()
    )
    want = sorted(tuple(r) for r in ewma_query(spark, sf_dir).collect())
    assert got == want
    # and the store really did see multiple epochs (the premise)
    epochs = {
        r["epoch"] for r in spark.read.parquet(out).select("epoch").collect()
    }
    assert len(epochs) >= 3


def test_scd2_intervals_across_micro_batches(spark, sf_dir, chunked_dir, tmp_path):
    """An interval whose open and close straddle a micro-batch boundary
    must still emit exactly once with the correct bounds: 3 time-ordered
    micro-batches == the batch LEAD-window derivation (closed rows)."""
    import os

    import duckdb

    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.job import EVENTS_SCHEMA
    from replicator_spark.streaming.scd2_state import build_scd2_stream

    base = str(tmp_path)
    stream = normalize_events(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    q = (
        build_scd2_stream(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(base, "out"))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(base, "out")).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'events.parquet')}'"
    )
    want = sorted(
        (int(u), float(v), int(f), int(t))
        for u, v, f, t in con.execute(
            """
            SELECT user_id, value, epoch_ms(ts),
                LEAD(epoch_ms(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
            FROM events
            QUALIFY LEAD(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL
            """
        ).fetchall()
    )
    assert got == want


def test_ddl_replay_version_monotone_across_micro_batches(
    spark, sf_dir, chunked_dir, tmp_path
):
    """The streaming DDL replay drives ONE long-lived SchemaRegistry:
    version numbers must continue across micro-batches (not restart per
    batch) and the emitted history must equal the batch twin's —
    AugmenterContext.updateSchema ordering, one registry object."""
    import os

    from replicator_spark.session import prep
    from replicator_spark.streaming.job import EVENTS_SCHEMA
    from replicator_spark.streaming.registry import (
        build_ddl_stream,
        run_ddl_replay_stream,
        schema_history_query,
    )

    prep(spark)
    out = os.path.join(str(tmp_path), "out")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked_dir)
    )
    reg = run_ddl_replay_stream(
        spark, build_ddl_stream(stream), out, os.path.join(str(tmp_path), "ckpt")
    )
    got = spark.read.parquet(out).select(
        "version", "kind", "table_ref", "sql", "n_tables_after"
    )
    n = got.count()
    assert n > 0
    # one long-lived registry: versions are exactly 1..n with no resets
    assert reg.version == n
    vs = sorted(r["version"] for r in got.select("version").collect())
    assert vs == list(range(1, n + 1))
    want = schema_history_query(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------
# Round-14 verdict task #4: the MULTI-file BINLOG stream golden path.
# The envelope's lag-derived before-images are batch-local; when one
# user's history spans micro-batches, the wire before-image (which a
# real binlog_row_image=FULL server writes into every UPDATE/DELETE
# rows event) must take over — and the output must be BYTE-IDENTICAL
# to the single-pass batch run over the same log directory. The 3-file
# log is conftest's `multibatch_binlog`. The family's runner member
# (time-machine cells, changed-column suppression across batches)
# lives in test_runner.py, so the default run covers it.

_B14 = 1_700_000_000_000_000  # base µs (2023-11); minutes are txn units


@pytest.mark.parametrize("payload_mode", ["none", "mixed"])
def test_binlog_feed_before_images_across_micro_batches(
    spark, tmp_path, multibatch_binlog, payload_mode
):
    """ONE streaming lifetime, maxFilesPerTrigger=1 → 3 micro-batches.
    The streamed change feed (union of per-epoch outputs) must equal
    the batch feed row-for-row, INCLUDING the before-image columns:
    head-of-batch UPDATEs take the wire before-image, head-of-batch
    DELETEs take the wire row image, in-batch rows keep the lag.
    payload_mode='mixed' proves TRANSACTION_PAYLOAD envelope framing
    is transparent to the cross-batch before-image contract (both
    head-of-batch rows ride enveloped transactions there)."""
    import os

    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.session import prep
    from replicator_spark.sources.binlog import (
        envelope_projection,
        read_binlog_files,
    )

    prep(spark)
    logs = multibatch_binlog(payload_mode)
    out = str(tmp_path / "feed_out")
    epochs = []

    def one_batch(bdf, epoch_id):
        epochs.append(epoch_id)
        change_feed_from(bdf, op_col="op").write.mode("overwrite").parquet(
            os.path.join(out, f"epoch={epoch_id}")
        )

    stream = envelope_projection(read_binlog_files(
        spark, logs, stream=True, max_files_per_trigger=1))
    q = (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(epochs) == 3, epochs  # one micro-batch per rotated file

    got = spark.read.parquet(out)
    want = change_feed_from(
        envelope_projection(read_binlog_files(spark, logs)), op_col="op"
    )
    cols = sorted(want.columns)
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w  # byte-identical, before-images included

    by_id = {r["event_id"]: r for r in got.collect()}
    # head-of-batch UPDATE: wire before-image, not NULL
    assert by_id[4]["value_before"] == 2.0
    assert by_id[4]["props_before"] == '{"a":1}'
    # head-of-batch DELETE: the wire row image IS the before-image
    assert by_id[6]["value_before"] == 3.0
    assert by_id[6]["props_before"] == '{"a":1}'
    # in-batch predecessor still wins over the wire
    assert by_id[2]["value_before"] == 1.0


def test_binlog_multibatch_restart_mid_backlog(spark, tmp_path, multibatch_binlog):
    """Restart composed with the multi-batch contract: lifetime 1
    drains only PART of the backlog (maxFilesPerTrigger=1 + a stop
    after the first batch); lifetime 2 resumes the SAME checkpoint and
    drains the rest. The union must STILL be byte-identical to the
    batch twin — the cross-restart boundary is just another
    micro-batch boundary for the wire before-image fallback."""
    import os

    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.session import prep
    from replicator_spark.sources.binlog import (
        envelope_projection,
        read_binlog_files,
    )

    prep(spark)
    logs = multibatch_binlog()
    out = str(tmp_path / "feed_out")
    ckpt = str(tmp_path / "ckpt")

    def run_lifetime(stop_after: int) -> list:
        epochs = []

        def one_batch(bdf, epoch_id):
            epochs.append(epoch_id)
            change_feed_from(bdf, op_col="op").write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f"epoch={epoch_id}"))

        stream = envelope_projection(read_binlog_files(
            spark, logs, stream=True, max_files_per_trigger=1))
        q = (
            stream.writeStream.foreachBatch(one_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # "kill": stop the query once stop_after batches committed
        import time

        while len(epochs) < stop_after and q.isActive:
            time.sleep(0.05)
        if stop_after < 3:
            q.stop()
        q.awaitTermination()
        return epochs

    e1 = run_lifetime(stop_after=1)
    assert len(e1) < 3  # the backlog was NOT drained in lifetime 1
    e2 = run_lifetime(stop_after=3)
    assert sorted(set(e1) | set(e2)) == list(range(len(set(e1) | set(e2))))

    got = spark.read.parquet(out)
    # no event decoded twice across the restart
    assert got.groupBy("event_id").count().where("count > 1").count() == 0
    want = change_feed_from(
        envelope_projection(read_binlog_files(spark, logs)), op_col="op"
    )
    cols = sorted(want.columns)
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w
    by_id = {r["event_id"]: r for r in got.collect()}
    assert by_id[4]["value_before"] == 2.0  # wire image across restart
    assert by_id[6]["value_before"] == 3.0


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_feed_split_invariance_property(spark, tmp_path, seed):
    """ANY split of a consistent change history into rotated files
    must yield the same change feed whether the files are processed
    together (batch lag sees everything) or file-by-file (batch-local
    lag + wire before-image fallback at every file head). Randomized
    per-user chains INSERT → UPDATE*/DELETE with TRUE wire
    before-images (= the previous after state, as a real server
    writes); every record in its own minute so transactions never
    straddle a file boundary (real servers rotate at txn bounds)."""
    import os
    import random

    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.session import prep
    from replicator_spark.sources.binlog import (
        encode_binlog_file,
        envelope_projection,
        read_binlog_files,
    )

    prep(spark)
    rng = random.Random(seed)
    records, befores = [], []
    eid = 0
    minute = 0
    state = {}  # user -> (value, props) current row state, or None
    users = [10, 20, 30]
    for _ in range(rng.randint(8, 16)):
        u = rng.choice(users)
        eid += 1
        minute += 1
        ts = _B14 + minute * 60_000_000
        cur = state.get(u)
        if cur is None:
            v = round(rng.uniform(0, 100), 3)
            p = f'{{"k":{rng.randint(0, 9)}}}'
            records.append(("INSERT", eid, ts, u, "signup", v, p))
            befores.append(None)
            state[u] = (v, p)
        elif rng.random() < 0.2:
            records.append(("DELETE", eid, ts, u, "error", *cur))
            befores.append(None)
            state[u] = None
        else:
            # sometimes leave value or props unchanged (suppression)
            v = cur[0] if rng.random() < 0.3 else round(
                rng.uniform(0, 100), 3
            )
            p = cur[1] if rng.random() < 0.3 else (
                f'{{"k":{rng.randint(0, 9)}}}'
            )
            records.append(("UPDATE", eid, ts, u, "click", v, p))
            befores.append(cur)
            state[u] = (v, p)
    # random split into 1..4 contiguous files
    n_files = rng.randint(1, 4)
    cuts = sorted(rng.sample(range(1, len(records)), n_files - 1))
    bounds = [0] + cuts + [len(records)]
    whole = tmp_path / "all"
    whole.mkdir()
    file_dirs = []
    for fi in range(len(bounds) - 1):
        lo, hi = bounds[fi], bounds[fi + 1]
        blob = encode_binlog_file(
            records[lo:hi],
            txn_ids=list(range(lo + 1, hi + 1)),
            before_images=befores[lo:hi],
        )
        name = f"binlog.{fi + 1:06d}"
        (whole / name).write_bytes(blob)
        d = tmp_path / f"f{fi}"
        d.mkdir()
        (d / name).write_bytes(blob)
        file_dirs.append(str(d))

    def feed(path):
        return change_feed_from(
            envelope_projection(read_binlog_files(spark, path)),
            op_col="op",
        )

    want = sorted(tuple(r) for r in feed(str(whole)).collect())
    got = sorted(
        t
        for d in file_dirs
        for t in (tuple(r) for r in feed(d).collect())
    )
    assert got == want
