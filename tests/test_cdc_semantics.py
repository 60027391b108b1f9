"""Golden-state semantic tests for the CDC layer — PySpark
re-expressions of the reference's integration-test assertions
(SURVEY.md §5: TransmitInserts / MicrosecondValidation /
LongTransaction golden-state pattern).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Row, functions as F


def test_salted_rowkey_matches_reference_shape(spark):
    """TransmitInsertsTestImpl.groovy:139-194 expects keys like
    '7fc56270;A;1' — md5(pk1) hex prefix + ';'-joined PK values."""
    from replicator_spark.cdc.rowkey import salted_rowkey

    df = spark.createDataFrame([Row(pk1="A", pk2=1)])
    out = df.select(
        salted_rowkey([F.col("pk1"), F.col("pk2")]).alias("k")
    ).collect()[0]["k"]
    expected_salt = hashlib.md5(b"A").hexdigest()[:8]
    assert out == f"{expected_salt};A;1"
    assert expected_salt.startswith("7fc56270")  # the reference's own value


def test_rowkey_requires_pk(spark):
    from replicator_spark.cdc.rowkey import salted_rowkey

    try:
        salted_rowkey([])
        assert False, "no-PK tables must be rejected (HBaseRowKeyMapper.java:48-50)"
    except ValueError:
        pass


def test_micro_organizer_span_and_saturation(spark):
    """RowTimestampOrganizer.java:46-103: first version at commit_µs-50,
    +1 per subsequent same-row change, saturating at commit_µs
    (MicrosecondValidationTestImpl: 56 updates → 50 ordered + saturate)."""
    from replicator_spark.cdc.transactions import VERSION_SPAN_US

    # 56 versions of one row in one txn (like the reference's test)
    rows = [
        Row(
            event_id=i,
            table_name="t",
            rowkey="k",
            txn_xid=1,
            commit_ts_ms=1_700_000_000_000,
            txn_seq=0,
        )
        for i in range(56)
    ]
    df = spark.createDataFrame(rows)
    from pyspark.sql import Window as W

    w = W.partitionBy("table_name", "rowkey", "txn_xid").orderBy("event_id")
    out = (
        df.withColumn(
            "version_us",
            F.col("commit_ts_ms") * 1000
            + F.col("txn_seq") * 100
            - F.lit(VERSION_SPAN_US)
            + F.least(
                F.row_number().over(w) - F.lit(1), F.lit(VERSION_SPAN_US)
            ),
        )
        .orderBy("event_id")
        .select("version_us")
        .collect()
    )
    base = 1_700_000_000_000 * 1000
    versions = [r["version_us"] for r in out]
    assert versions[0] == base - 50
    assert versions[49] == base - 1
    # versions 50..55 all saturate at the commit timestamp
    assert versions[50:] == [base] * 6


def test_delete_writes_tombstone_only(spark, sf_dir):
    """HBaseApplierMutationGenerator.java:141-185 — DELETE mutations carry
    no column cells, only row_status='D'."""
    from replicator_spark.sinks.timemachine import timemachine_cells

    cells = timemachine_cells(spark, sf_dir)
    del_cols = (
        cells.join(
            cells.where(
                (F.col("column_name") == "row_status")
                & (F.col("cell_value") == "D")
            ).select("event_id"),
            "event_id",
        )
        .select("column_name")
        .distinct()
        .collect()
    )
    assert {r["column_name"] for r in del_cols} == {"row_status"}


def test_null_sentinel(spark):
    """AugmentedRow.java:13 — NULL cells become the string 'NULL'."""
    from replicator_spark.cdc.decode import null_sentinel

    df = spark.createDataFrame([Row(v=None), Row(v="x")], "v string")
    out = sorted(
        r["s"] for r in df.select(null_sentinel(F.col("v")).alias("s")).collect()
    )
    assert out == ["NULL", "x"]


def test_table_merge_pattern(spark):
    """AugmenterTest.java:19-38 — `MyTable_201912` merges to `MyTable`;
    non-date suffixes survive."""
    from replicator_spark.cdc.filters import merge_table_name

    df = spark.createDataFrame(
        [Row(t="MyTable_201912"), Row(t="MyTable_202001"), Row(t="Other_99")]
    )
    out = [
        r["m"]
        for r in df.select(merge_table_name(F.col("t")).alias("m"))
        .orderBy("m")
        .collect()
    ]
    assert out == ["MyTable", "MyTable", "Other_99"]


def test_unsigned_reinterpret(spark):
    """MysqlTypeDeserializer.java:172-207 — signed → unsigned masks."""
    from replicator_spark.cdc.decode import unsigned_bigint, unsigned_reinterpret

    df = spark.createDataFrame([Row(v=-1)])
    r = df.select(
        unsigned_reinterpret(F.col("v"), 8).alias("u8"),
        unsigned_reinterpret(F.col("v"), 16).alias("u16"),
        unsigned_reinterpret(F.col("v"), 32).alias("u32"),
        unsigned_bigint(F.col("v").cast("long")).alias("u64"),
    ).collect()[0]
    assert r["u8"] == 255
    assert r["u16"] == 65535
    assert r["u32"] == 4294967295
    assert r["u64"] == "18446744073709551615"


def test_seeker_trim_suppresses_below_watermark(spark):
    """KafkaSeeker.java:117-144 — events at/below their partition's
    watermark are dropped; partitions without a watermark pass all."""
    from replicator_spark.cdc.seeker import seek_trim

    feed = spark.createDataFrame(
        [Row(event_id=i, partition=i % 2) for i in range(1, 7)]
    )
    applied = spark.createDataFrame([Row(partition=0, watermark_event_id=4)])
    out = sorted(r["event_id"] for r in seek_trim(feed, applied).collect())
    # partition 0 holds {2,4,6}: 2 and 4 suppressed; partition 1 all pass
    assert out == [1, 3, 5, 6]


def test_avro_schema_generation_is_valid_json(spark):
    """EventDataPresenterAvro.java:152-223 — per-table record schema:
    valid JSON, meta fields last, type mapping per §1.4."""
    import json

    from replicator_spark.sinks.avro import avro_schemas, catalog_df

    rows = {r["subject"]: r["avro_schema"] for r in avro_schemas(
        catalog_df(spark)).collect()}
    assert set(rows) == {
        "bigdata-testdb-organisms-value", "bigdata-testdb-users-value"
    }
    org = json.loads(rows["bigdata-testdb-organisms-value"])
    assert org["type"] == "record"
    by_name = {f["name"]: f["type"] for f in org["fields"]}
    assert by_name["id"] == ["null", "long"]          # int unsigned
    assert by_name["lifespan"] == ["null", "int"]     # smallint
    assert by_name["population"] == ["null", "string"]  # bigint unsigned
    assert by_name["mass"] == ["null", "float"]
    assert by_name["dna"] == ["null", "string"]       # blob → hex string
    assert [f["name"] for f in org["fields"]][-3:] == [
        "__timestamp", "__is_deleted", "__binlog_position"
    ]


def test_bootstrap_snapshot_precedes_stream(spark, sf_dir):
    """BootstrapReplicator.java:38-99 — the seed copy is stamped before
    every stream event and carries only INSERTs."""
    from pyspark.sql import functions as F

    from replicator_spark.sources.bootstrap import bootstrap_union

    u = bootstrap_union(spark, sf_dir)
    agg = u.groupBy("source").agg(
        F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi"),
        F.countDistinct("op").alias("n_ops"),
    ).collect()
    by = {r["source"]: r for r in agg}
    assert by["snapshot"]["hi"] < by["binlog"]["lo"]
    assert by["snapshot"]["n_ops"] == 1  # INSERT only


def test_avro_compat_verdicts():
    """KafkaApplier.handleIncompatibleSchemaChange:261-287 — add-column
    is compatible; drop and type-change force re-registration."""
    from replicator_spark.streaming.registry import SchemaRegistry, avro_compat

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int, b varchar)")
    s0 = reg.history[-1]["after_schema"]
    reg.apply_ddl("ALTER TABLE t ADD COLUMN c bigint")
    s1 = reg.history[-1]["after_schema"]
    assert avro_compat(s0, s1) == "COMPATIBLE"
    reg.apply_ddl("ALTER TABLE t DROP COLUMN b")
    s2 = reg.history[-1]["after_schema"]
    assert avro_compat(s1, s2) == "INCOMPATIBLE_FIELD_DROPPED"
    reg.apply_ddl("ALTER TABLE t MODIFY COLUMN a varchar")
    s3 = reg.history[-1]["after_schema"]
    assert avro_compat(s2, s3) == "INCOMPATIBLE_TYPE_CHANGED"
    assert avro_compat(None, s3) == "COMPATIBLE"


def test_config_driven_pipeline(spark, sf_dir):
    """Replicator.java:151-204 analog — the dotted-key config wires
    filter -> partitioner -> applier into one composed plan."""
    import pytest as _pytest

    from replicator_spark.cdc.envelope import change_feed
    from replicator_spark.runner import apply_sink, run_batch

    feed = change_feed(spark, sf_dir)
    merge = {"augmenter.table.merge": True,
             "augmenter.skip.query.events": False}
    counts = run_batch(
        spark, sf_dir,
        {**merge, "partitioner.type": "TRID", "replicator.tasks": 4,
         "applier.type": "count"},
    )
    rows = {r["op"]: r["n_events"] for r in counts.collect()}
    assert set(rows) == {"INSERT", "UPDATE", "DELETE", "QUERY"}

    cells = run_batch(spark, sf_dir, {"applier.type": "timemachine"})
    assert "version_us" in cells.columns and "rowkey" in cells.columns

    merged = run_batch(spark, sf_dir, {**merge, "applier.type": "console"})
    assert merged.count() == feed.count()

    with _pytest.raises(ValueError):
        apply_sink(feed, {"applier.type": "nope"})


def test_timemachine_replay_is_idempotent(spark, sf_dir, tmp_path):
    """HBaseApplier.java:166-196 — at-least-once delivery + deterministic
    version timestamps => replaying a batch rewrites identical cells, so
    last-writer-wins dedup on the cell key restores exactly-once."""
    from pyspark.sql import functions as F

    from replicator_spark.sinks.timemachine import (
        timemachine_cells,
        write_timemachine,
    )

    cells = timemachine_cells(spark, sf_dir)
    out = str(tmp_path / "store")
    write_timemachine(cells, out)
    write_timemachine(cells, out)  # the replay
    stored = spark.read.parquet(out)
    key = ["table_name", "rowkey", "column_name", "version_us"]
    deduped = stored.dropDuplicates(key)
    assert stored.count() == 2 * cells.count()
    assert deduped.count() == cells.count()
    # every replayed cell agrees byte-for-byte with the original
    distinct_payloads = stored.select(
        *key, "cell_value", "txn_uuid"
    ).distinct()
    assert distinct_payloads.count() == cells.count()


def test_stream_restart_honors_checkpoint(spark, sf_dir, tmp_path):
    """Structured Streaming's offset log is the safe-checkpoint analog
    (SURVEY 2.5): re-running the drained stream with the same
    checkpoint emits nothing new."""
    from replicator_spark.runner import run_stream
    from replicator_spark.streaming.job import TIMEMACHINE_STREAM_CONFIG

    out = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    run_stream(spark, sf_dir, TIMEMACHINE_STREAM_CONFIG, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # restart, same ckpt
    run_stream(spark, sf_dir, TIMEMACHINE_STREAM_CONFIG, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1


def test_ewma_store_replay_idempotent(spark, sf_dir, tmp_path):
    """A re-run of the EWMA stream on a fresh checkpoint (the
    at-least-once foreachBatch retry, writ large) must leave its store
    unchanged: each epoch overwrites its own directory rather than
    appending a second copy of its rows."""
    from replicator_spark.streaming.ewma_state import (
        collapse_ewma_store,
        run_ewma_stream,
    )
    from replicator_spark.session import read_table

    out = str(tmp_path / "store")

    def run(ckpt):
        stream = read_table(spark, sf_dir, "events", stream=True)
        run_ewma_stream(stream, out, str(tmp_path / ckpt))
        collapsed = collapse_ewma_store(spark, out).collect()
        return spark.read.parquet(out).count(), sorted(map(tuple, collapsed))

    n1, first = run("ck1")
    # replay with a FRESH checkpoint → the same epochs re-fire
    assert n1 > 0 and run("ck2") == (n1, first)


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Skew salting (SURVEY 4: the rowkey-salt idea applied to joins):
    the (key, salt) join must produce exactly the plain-join result."""
    from pyspark.sql import functions as F

    from replicator_spark.session import read_table
    from replicator_spark.utils import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, ["l_orderkey"]).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    salted = salted_join(
        li, orders, ["l_orderkey"], n_salts=4,
        big_id_cols=["l_orderkey", "l_partkey"],
    ).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_transmit_inserts_golden_cells(spark):
    """TransmitInsertsTestImpl.groovy:139-194 analog — cell-exact
    expected sink state including literal salted rowkeys and
    row_status=I, computed independently with hashlib."""
    import hashlib

    from pyspark.sql import functions as F

    from replicator_spark.cdc.rowkey import salted_rowkey
    from replicator_spark.sinks.timemachine import cells_from

    rows = [
        # event_id, op, table, user_id(pk), value_after, props_after
        (1, "INSERT", "users_202401", 11, 1.5, "a"),
        (2, "INSERT", "users_202401", 12, 2.5, None),
        (3, "INSERT", "users_202401", 13, None, "c"),
    ]
    feed = spark.createDataFrame(
        [
            (e, op, "testdb", t, 1000, u, 7, None, v, None, p, 1000, 0)
            for e, op, t, u, v, p in rows
        ],
        "event_id long, op string, db string, table_name string, ts_ms long,"
        " user_id long, txn_xid long, value_before double,"
        " value_after double, props_before string, props_after string,"
        " commit_ts_ms long, seq_in_txn int",
    ).withColumn("txn_uuid", F.md5(F.col("txn_xid").cast("string")))
    organized = feed.withColumn(
        "rowkey", salted_rowkey([F.col("user_id")])
    ).withColumn("version_us", F.lit(999))
    got = {
        (r["rowkey"], r["column_name"]): r["cell_value"]
        for r in cells_from(organized).collect()
    }
    for _, _, _, u, v, p in rows:
        salt = hashlib.md5(str(u).encode()).hexdigest()[:8]
        rk = f"{salt};{u}"
        assert got[(rk, "row_status")] == "I"
        assert got[(rk, "value")] == ("NULL" if v is None else str(v))
        assert got[(rk, "props")] == ("NULL" if p is None else p)
    assert len(got) == 9  # 3 rows x 3 cells, nothing extra


def test_long_transaction_commit_time_override(spark):
    """LongTransactionTestImpl.groovy:23-80 analog — every event of a
    transaction is stamped with the COMMIT event's timestamp (the max
    ts in the txn), not its own."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.envelope import TXN_USER_STRIDE, change_feed_from

    base_ns = 1_700_000_000_000_000_000
    evs = spark.createDataFrame(
        [
            # one user, three events 10s apart -> same minute txn
            (1, base_ns, 5, "signup", 1.0, "x"),
            (2, base_ns + 10_000_000_000, 5, "click", 2.0, "y"),
            (3, base_ns + 20_000_000_000, 5, "purchase", 3.0, "z"),
        ],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    )
    feed = change_feed_from(evs).select(
        "event_id", "ts_ms", "commit_ts_ms", "txn_xid", "seq_in_txn"
    ).collect()
    commit = max(r["ts_ms"] for r in feed)
    assert all(r["commit_ts_ms"] == commit for r in feed)
    assert [r["seq_in_txn"] for r in sorted(feed, key=lambda r: r["event_id"])] == [1, 2, 3]
    assert len({r["txn_xid"] for r in feed}) == 1
    assert feed[0]["txn_xid"] == 5 * TXN_USER_STRIDE + (base_ns // 1_000_000) // 60_000


def test_ivf_results_consistent_with_bruteforce(spark, sf_dir):
    """The IVF fine search must agree with the exhaustive search on
    every (query, candidate) pair it returns (same cosine), and its
    per-query best score can never exceed brute force's."""
    from replicator_spark.pipeline.similarity import (
        cosine_topk_query,
        ivf_topk_query,
    )

    bf = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in cosine_topk_query(spark, sf_dir).collect()
    }
    bf_best = {}
    for (q, _), c in bf.items():
        bf_best[q] = max(bf_best.get(q, -2.0), c)
    ivf = ivf_topk_query(spark, sf_dir).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        if key in bf:  # same pair scored by both → identical cosine
            assert abs(r["cosine"] - bf[key]) < 1e-9
        assert r["cosine"] <= bf_best[r["query_id"]] + 1e-9


def test_delay_gauge_stops_at_ack_hole(spark):
    """Replication-delay gauge: an un-acked checkpoint (event_id 97 →
    srv 1, txn 24) leaves a hole; srv 1's safe watermark must stop at
    txn 23 and report the committed-past-the-hole work as delay, while
    hole-free servers report zero delay."""
    from replicator_spark.cdc.metrics import delay_gauge

    n = 200  # event_ids 0..199 → txns 0..49 on each of 4 servers
    ev = spark.createDataFrame(
        [(i, i * 1_000_000_000) for i in range(n)], "event_id long, ts long"
    )
    rows = {r["server_uuid"]: r for r in delay_gauge(ev).collect()}
    assert set(rows) == {"srv-00", "srv-01", "srv-02", "srv-03"}
    s1 = rows["srv-01"]
    assert s1["safe_checkpoint"] == 23
    assert s1["head_txn"] == 49
    assert s1["delay_txns"] == 26
    # head event of srv-01 is id 197 (ts 197e9), safe txn 23 is id 93
    assert s1["delay_ms"] == (197 - 93) * 1000
    # srv-02 has its own hole: un-acked id 194 → txn 48, so safe stops
    # at 47 (event 190) while the head is txn 49 (event 198)
    s2 = rows["srv-02"]
    assert s2["safe_checkpoint"] == 47
    assert s2["delay_txns"] == 2
    assert s2["delay_ms"] == (198 - 190) * 1000
    # srv-00's only un-acked id is 0 == its minimum, which sits BELOW
    # the contiguous scan's starting point; no interior hole → no
    # delay. srv-03 has no un-acked ids at all.
    for srv in ("srv-00", "srv-03"):
        assert rows[srv]["delay_txns"] == 0
        assert rows[srv]["delay_ms"] == 0  # safe event IS the head event


def test_registry_chain_snapshots_share_structure():
    """The O(1)-ADD contract, pinned structurally (not by timing): an
    ADD COLUMN must cons onto the previous chain — history row N's
    after_schema has row N's before_schema as its parent cell, and
    row N's before_schema IS row N-1's after_schema (same object).
    A copy-on-alter regression breaks the identity immediately."""
    from replicator_spark.streaming.registry import SchemaRegistry, _chain_pairs

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int)")
    reg.apply_ddl("ALTER TABLE t ADD COLUMN b int")
    h2 = reg.history[-1]
    reg.apply_ddl("ALTER TABLE t ADD COLUMN c int")
    h3 = reg.history[-1]
    assert h3["before_schema"] is h2["after_schema"]
    assert h3["after_schema"][1] is h3["before_schema"]
    # and the snapshots materialize independently despite the sharing
    assert [n for n, _ in _chain_pairs(h2["after_schema"])] == ["a", "b"]
    assert [n for n, _ in _chain_pairs(h3["after_schema"])] == ["a", "b", "c"]


def test_registry_rename_swap_atomic():
    """Multi-pair RENAME TABLE is atomic (the online-schema-change swap
    of FIXTURES F3): `RENAME TABLE t TO t_old, t_new TO t` must leave
    t = the old t_new, t_old = the old t — staged reads, no clobber —
    and column membership must follow the moved schemas."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int)")
    reg.apply_ddl("CREATE TABLE t_new (a int, b varchar)")
    row = reg.apply_ddl("RENAME TABLE t TO t_old, t_new TO t")
    assert row["kind"] == "RENAME_TABLE"
    assert row["n_tables_after"] == 2
    assert [f.name for f in reg.get("t").fields] == ["a", "b"]
    assert [f.name for f in reg.get("t_old").fields] == ["a"]
    assert reg.get("t_new") is None
    # the name-set moved with the schema: duplicate-ADD still detected
    reg.apply_ddl("ALTER TABLE t ADD COLUMN b varchar")  # dup → no-op
    assert reg.n_columns("t") == 2
    reg.apply_ddl("ALTER TABLE t_old ADD COLUMN b varchar")  # not a dup here
    assert reg.n_columns("t_old") == 2


def test_registry_drop_and_truncate():
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int)")
    row = reg.apply_ddl("TRUNCATE TABLE t")
    assert row["kind"] == "TRUNCATE_TABLE"
    assert reg.n_columns("t") == 1  # truncate keeps the schema
    row = reg.apply_ddl("DROP TABLE t")
    assert row["kind"] == "DROP_TABLE" and row["n_tables_after"] == 0
    assert reg.get("t") is None and reg.n_columns("t") == 0
    # ALTER after DROP is classified, not crashed
    row = reg.apply_ddl("ALTER TABLE t ADD COLUMN x int")
    assert row["kind"] == "ALTER_UNKNOWN_TABLE"


def test_registry_positional_clauses():
    """ADD COLUMN ... FIRST / AFTER col, MODIFY/CHANGE with position,
    RENAME COLUMN, and ALTER ... RENAME TO — the reference replays DDL
    against real MySQL, so computeTableSchema (ActiveSchemaHelpers.java:
    24-105, ORDINAL_POSITION order) reflects these clauses; the
    interpreter must reproduce that ordinal column order."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int, b int, c int)")
    reg.apply_ddl("ALTER TABLE t ADD COLUMN z int FIRST")
    assert [f.name for f in reg.get("t").fields] == ["z", "a", "b", "c"]
    reg.apply_ddl("ALTER TABLE t ADD COLUMN m int AFTER a")
    assert [f.name for f in reg.get("t").fields] == ["z", "a", "m", "b", "c"]
    # AFTER a missing column: clause rejected, order unchanged
    reg.apply_ddl("ALTER TABLE t ADD COLUMN q int AFTER nope")
    assert [f.name for f in reg.get("t").fields] == ["z", "a", "m", "b", "c"]
    assert reg.n_columns("t") == 5
    # MODIFY moves as well as retypes
    reg.apply_ddl("ALTER TABLE t MODIFY COLUMN c bigint FIRST")
    assert [f.name for f in reg.get("t").fields] == ["c", "z", "a", "m", "b"]
    assert reg.get("t")["c"].dataType.typeName() == "long"
    # CHANGE renames, retypes and repositions in one clause
    reg.apply_ddl("ALTER TABLE t CHANGE COLUMN b bb varchar AFTER c")
    assert [f.name for f in reg.get("t").fields] == ["c", "bb", "z", "a", "m"]
    # MySQL 8 RENAME COLUMN (no retype)
    reg.apply_ddl("ALTER TABLE t RENAME COLUMN m TO mm")
    assert [f.name for f in reg.get("t").fields] == ["c", "bb", "z", "a", "mm"]
    # RENAME-TO-as-ALTER: table moves, later statements see the new name
    row = reg.apply_ddl("ALTER TABLE t ADD COLUMN w int, RENAME TO t2")
    assert row["kind"] == "ALTER_TABLE" and row["table"] == "t->t2"
    assert reg.get("t") is None
    assert [f.name for f in reg.get("t2").fields] == [
        "c", "bb", "z", "a", "mm", "w",
    ]
    # the rename row's snapshots bridge old name -> new name
    assert row["before_schema"] is not None
    assert row["after_schema"] is not None


def test_registry_change_to_existing_name_is_rejected():
    """CHANGE/RENAME COLUMN onto an already-existing column name would
    desync the chain from the name set (duplicate column in the chain,
    deduped set) — MySQL rejects the statement; the interpreter skips
    the clause (round-10 advisor finding)."""
    from replicator_spark.streaming.registry import SchemaRegistry, _chain_pairs

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int, b int)")
    reg.apply_ddl("ALTER TABLE t CHANGE COLUMN a b bigint")
    pairs = _chain_pairs(reg.tables["t"])
    assert [n for n, _ in pairs] == ["a", "b"]
    assert reg.n_columns("t") == len(pairs) == 2
    reg.apply_ddl("ALTER TABLE t RENAME COLUMN a TO b")
    assert [n for n, _ in _chain_pairs(reg.tables["t"])] == ["a", "b"]
    # ALTER ... RENAME TO an existing table is likewise rejected
    reg.apply_ddl("CREATE TABLE u (x int)")
    reg.apply_ddl("ALTER TABLE u RENAME TO t")
    assert reg.get("u") is not None and reg.n_columns("t") == 2


def test_registry_rename_row_snapshots_real_transition():
    """A RENAME TABLE history row's before/after snapshots must carry
    the OLD table's chain and the NEW table's chain (round-10 advisor:
    the 'old->new' label made both lookups miss, recording None and
    letting avro_compat misreport a rename as a first registration)."""
    from replicator_spark.streaming.registry import (
        SchemaRegistry,
        _chain_pairs,
        avro_compat,
    )

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int, b varchar)")
    row = reg.apply_ddl("RENAME TABLE t TO t2")
    assert row["before_schema"] is not None
    assert row["after_schema"] is not None
    # a rename moves the chain unchanged: same cells, COMPATIBLE verdict
    assert row["after_schema"] is row["before_schema"]
    assert [n for n, _ in _chain_pairs(row["after_schema"])] == ["a", "b"]
    assert avro_compat(row["before_schema"], row["after_schema"]) == (
        "COMPATIBLE"
    )


class _ModelRegistry:
    """Dict/list-based reference model of the DDL interpreter's ordinal
    column-order contract (ActiveSchemaHelpers.computeTableSchema:24-105)
    — the independent spec the property test checks the chain
    implementation against. Skip rules mirror MySQL's statement
    rejections: duplicate column names, missing AFTER anchors, missing
    sources, and clashing table renames are no-ops."""

    def __init__(self):
        self.tables: dict[str, list] = {}  # table -> [(name, type_str)]

    def create(self, t, cols):
        self.tables[t] = list(cols)

    def drop(self, t):
        self.tables.pop(t, None)

    def rename_tables(self, pairs):
        # MySQL atomicity: pairs apply left-to-right; a missing source
        # or occupied target rejects the WHOLE statement (nothing moves)
        work = dict(self.tables)
        for o, n in pairs:
            if o not in work or n in work:  # incl. self-rename (a TO a)
                return
            work[n] = work.pop(o)
        self.tables = work

    def _names(self, t):
        return [n for n, _ in self.tables[t]]

    def alter(self, t, clauses):
        if t not in self.tables:
            return
        for cl in clauses:
            op = cl[0]
            cols = self.tables[t]
            if op == "add":
                _, name, typ, pos = cl
                if name in self._names(t):
                    continue
                if pos is None:
                    cols.append((name, typ))
                elif pos == ("first", None):
                    cols.insert(0, (name, typ))
                elif pos[1] in self._names(t):
                    cols.insert(
                        self._names(t).index(pos[1]) + 1, (name, typ)
                    )
            elif op == "dropcol":
                self.tables[t] = [p for p in cols if p[0] != cl[1]]
            elif op in ("modify", "change"):
                if op == "modify":
                    _, old, typ, pos = cl
                    new = old
                else:
                    _, old, new, typ, pos = cl
                if old not in self._names(t) or (
                    new != old and new in self._names(t)
                ):
                    continue
                cols = [(new, typ) if n == old else (n, ty) for n, ty in cols]
                if pos is not None:
                    moved = [p for p in cols if p[0] == new]
                    rest = [p for p in cols if p[0] != new]
                    if pos == ("first", None):
                        cols = moved + rest
                    elif any(n == pos[1] for n, _ in rest):
                        i = [n for n, _ in rest].index(pos[1])
                        cols = rest[: i + 1] + moved + rest[i + 1 :]
                self.tables[t] = cols
            elif op == "renamecol":
                _, old, new = cl
                if old not in self._names(t) or (
                    new != old and new in self._names(t)
                ):
                    continue
                self.tables[t] = [
                    (new, ty) if n == old else (n, ty) for n, ty in cols
                ]
            elif op == "renameto":
                new_t = cl[1]
                if new_t in self.tables:  # occupied or self-rename
                    continue
                self.tables[new_t] = self.tables.pop(t)
                t = new_t


def test_registry_ddl_property_random_clause_sequences():
    """Property test (round-10 verdict task #3): random DDL clause
    sequences — ADD [FIRST|AFTER], DROP, MODIFY/CHANGE [with position],
    RENAME COLUMN, RENAME TO, table RENAME/DROP — replayed through the
    chain-based SchemaRegistry must match the list-based model table-
    for-table and column-for-column (names, order, types), with the
    _names set never desyncing from the materialized chain."""
    import random

    from replicator_spark.streaming.registry import (
        SchemaRegistry,
        _chain_pairs,
        _parse_type,
    )

    types = ["int", "bigint", "varchar", "double", "datetime"]
    for seed in range(8):
        rng = random.Random(1000 + seed)
        reg = SchemaRegistry()
        model = _ModelRegistry()
        live = []  # table names ever referenced (incl. dropped/missing)
        for i in range(4):
            t = f"t{i}"
            cols = [(f"c{j}", rng.choice(types)) for j in range(3)]
            reg.apply_ddl(
                f"CREATE TABLE {t} ("
                + ", ".join(f"{n} {ty}" for n, ty in cols)
                + ")"
            )
            model.create(t, cols)
            live.append(t)

        def rand_col(rng):
            # mostly-existing names plus deliberate misses/duplicates
            return f"c{rng.randrange(8)}"

        for step in range(120):
            t = rng.choice(live)
            roll = rng.random()
            if roll < 0.70:
                clauses, texts = [], []
                for _ in range(rng.randrange(1, 4)):
                    kind = rng.randrange(6)
                    pos = rng.choice(
                        [None, None, ("first", None), ("after", rand_col(rng))]
                    )
                    post = (
                        ""
                        if pos is None
                        else (" FIRST" if pos[0] == "first"
                              else f" AFTER {pos[1]}")
                    )
                    if kind == 0:
                        n, ty = rand_col(rng), rng.choice(types)
                        clauses.append(("add", n, ty, pos))
                        texts.append(f"ADD COLUMN {n} {ty}{post}")
                    elif kind == 1:
                        n = rand_col(rng)
                        clauses.append(("dropcol", n))
                        texts.append(f"DROP COLUMN {n}")
                    elif kind == 2:
                        n, ty = rand_col(rng), rng.choice(types)
                        clauses.append(("modify", n, ty, pos))
                        texts.append(f"MODIFY COLUMN {n} {ty}{post}")
                    elif kind == 3:
                        o, n, ty = rand_col(rng), rand_col(rng), rng.choice(types)
                        clauses.append(("change", o, n, ty, pos))
                        texts.append(f"CHANGE COLUMN {o} {n} {ty}{post}")
                    elif kind == 4:
                        o, n = rand_col(rng), rand_col(rng)
                        clauses.append(("renamecol", o, n))
                        texts.append(f"RENAME COLUMN {o} TO {n}")
                    else:
                        n = f"t{rng.randrange(6)}"
                        clauses.append(("renameto", n))
                        texts.append(f"RENAME TO {n}")
                        if n not in live:
                            live.append(n)
                pre = {mt: list(mc) for mt, mc in model.tables.items()}
                hrow = reg.apply_ddl(f"ALTER TABLE {t} " + ", ".join(texts))
                model.alter(t, clauses)
                # avro_compat on the history row must agree with the
                # dict-model verdict, whichever path it took (chain-
                # ancestry fast path for pure ADD-at-end conses vs the
                # full compare after a positional/drop/rename rebuild)
                if hrow["kind"] == "ALTER_TABLE":
                    from replicator_spark.streaming.registry import avro_compat

                    target = hrow["table"].split("->")[-1]
                    if target in model.tables and t in pre:
                        old_cols = dict(pre[t])
                        new_cols = dict(model.tables[target])
                        # first violation in declaration order, exactly
                        # as avro_compat scans the old snapshot
                        want_prefix = "COMPATIBLE"
                        for cn, cty in old_cols.items():
                            if cn not in new_cols:
                                want_prefix = "INCOMPATIBLE_FIELD_DROPPED"
                                break
                            if _parse_type(cty) != _parse_type(new_cols[cn]):
                                want_prefix = "INCOMPATIBLE_TYPE_CHANGED"
                                break
                        got_v = avro_compat(
                            hrow["before_schema"], hrow["after_schema"]
                        )
                        assert got_v == want_prefix, (
                            seed, step, texts, got_v, want_prefix
                        )
            elif roll < 0.85:
                # single- or two-pair renames, DELIBERATELY including
                # missing sources and occupied targets (both must be
                # rejected atomically — nothing moves)
                ps = [
                    (rng.choice(live), f"t{rng.randrange(6)}")
                    for _ in range(rng.randrange(1, 3))
                ]
                reg.apply_ddl(
                    "RENAME TABLE "
                    + ", ".join(f"{o} TO {n}" for o, n in ps)
                )
                model.rename_tables(ps)
                for _, n in ps:
                    if n not in live:
                        live.append(n)
            elif roll < 0.95:
                reg.apply_ddl(f"DROP TABLE {t}")
                model.drop(t)
            else:
                cols = [(f"c{j}", rng.choice(types)) for j in range(2)]
                reg.apply_ddl(
                    f"CREATE TABLE {t} ("
                    + ", ".join(f"{n} {ty}" for n, ty in cols)
                    + ")"
                )
                model.create(t, cols)
            # full-state comparison after every statement
            assert set(reg.tables) == set(model.tables), f"seed {seed} step {step}"
            for mt, mcols in model.tables.items():
                got = _chain_pairs(reg.tables[mt])
                want = [(n, _parse_type(ty)) for n, ty in mcols]
                assert got == want, f"seed {seed} step {step} table {mt}"
                assert reg._names[mt] == {n for n, _ in mcols}
                assert reg.n_columns(mt) == len(mcols)


def test_compat_mode_datetime_offset_adjustment(spark):
    """DATE_AND_TIME_AS_LONG decode mirrors MysqlTypeDeserializerTest.
    testTimestampType: the output is String.valueOf(epochUTC -
    offset_at_instant * 1000), with the modeled server zone's offset
    instant-dependent (MysqlTypeDeserializer.java:131-142). The test
    epoch 1548982800000 (2019-01-31, winter) takes the base offset;
    a July instant takes base+DST; the DST edges flip EXACTLY at the
    last Sunday of March / October 01:00 UTC."""
    from replicator_spark.cdc.decode import (
        datetime_cell,
        server_zone_offset_seconds,
    )

    # 2019: last Sunday of March = 2019-03-31, of October = 2019-10-27
    mar_edge = 1553994000000  # 2019-03-31T01:00:00Z
    oct_edge = 1572138000000  # 2019-10-27T01:00:00Z
    cases = [
        (1548982800000, 3600),   # testTimestampType's winter instant
        (1563000000000, 7200),   # July: DST
        (mar_edge - 1, 3600),    # one ms before the spring-forward
        (mar_edge, 7200),        # the edge itself is DST
        (oct_edge - 1, 7200),    # one ms before the fall-back
        (oct_edge, 3600),        # back to standard time
    ]
    df = spark.createDataFrame(
        [Row(i=i, ms=ms) for i, (ms, _) in enumerate(cases)]
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            server_zone_offset_seconds(F.col("ms")).alias("off"),
            datetime_cell(F.col("ms"), compat=True).alias("dt"),
            datetime_cell(F.col("ms"), compat=False).alias("raw"),
        ).collect()
    }
    for i, (ms, off) in enumerate(cases):
        assert got[i]["off"] == off, (i, ms)
        # the reference's exact output: String.valueOf(ms - offset*1000)
        assert got[i]["dt"] == str(ms - off * 1000), (i, ms)
        # compat OFF: raw millis, no offset arithmetic
        assert got[i]["raw"] == str(ms)


def test_compat_mode_char_as_byte_array(spark):
    """CHAR_AND_BINARY_AS_BYTE_ARRAY decode mirrors
    MysqlTypeDeserializerTest.testCharTypeLatinCharacterSet /
    ...Utf8CharacterSet: the byte[] {111,114,97,110,103,101} decodes to
    'orange' under both charsets, while 0xE9 is 'é' only under latin1;
    compat OFF passes the already-decoded string through unchanged."""
    from replicator_spark.cdc.decode import char_cell

    rows = [
        Row(i=0, b=bytearray([111, 114, 97, 110, 103, 101]),
            coll="latin1_swedish_ci", s="orange"),
        Row(i=1, b=bytearray([111, 114, 97, 110, 103, 101]),
            coll="utf8mb4_general_ci", s="orange"),
        Row(i=2, b=bytearray([0xE9]), coll="latin1_swedish_ci", s="é"),
        Row(i=3, b=bytearray([0xC3, 0xA9]), coll="utf8mb4_general_ci",
            s="é"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            char_cell(F.col("b"), F.col("coll"), compat=True).alias("dec"),
            char_cell(F.col("s"), F.col("coll"), compat=False).alias("ident"),
        ).collect()
    }
    assert got[0]["dec"] == "orange" and got[1]["dec"] == "orange"
    assert got[2]["dec"] == "é" and got[3]["dec"] == "é"
    for i in range(4):
        assert got[i]["ident"] == rows[i].s


def test_registry_add_index_is_not_a_column():
    """ALTER TABLE ... ADD INDEX/KEY/UNIQUE/PRIMARY KEY clauses define
    constraints, not columns (mirrors the CREATE-branch keyword skip) —
    they must not materialize phantom columns named 'index'/'key'."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (a int, b int)")
    reg.apply_ddl(
        "ALTER TABLE t ADD INDEX idx_a (a), ADD UNIQUE KEY uk (b), "
        "ADD PRIMARY KEY (a), ADD COLUMN c int"
    )
    assert [f.name for f in reg.get("t").fields] == ["a", "b", "c"]


def test_registry_rename_table_atomic_rejection():
    """RENAME TABLE onto an occupied target, or of a missing source,
    rejects the WHOLE (multi-pair) statement — MySQL errors and nothing
    moves; silently clobbering the target's chain would corrupt every
    later decode against it (round-11 review finding)."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE a (x int)")
    reg.apply_ddl("CREATE TABLE b (y int, z int)")
    row = reg.apply_ddl("RENAME TABLE a TO b")  # target occupied
    assert row["kind"] == "RENAME_REJECTED"
    assert [f.name for f in reg.get("b").fields] == ["y", "z"]
    assert reg.get("a") is not None
    row = reg.apply_ddl("RENAME TABLE a TO a")  # self-rename: target exists
    assert row["kind"] == "RENAME_REJECTED"
    row = reg.apply_ddl("RENAME TABLE ghost TO c")  # missing source
    assert row["kind"] == "RENAME_REJECTED"
    assert row["before_schema"] is None and row["after_schema"] is None
    # multi-pair: ONE bad pair rejects all pairs
    row = reg.apply_ddl("RENAME TABLE a TO c, ghost TO d")
    assert row["kind"] == "RENAME_REJECTED"
    assert reg.get("a") is not None and reg.get("c") is None
    # the legal swap still works (left-to-right: a frees its name)
    row = reg.apply_ddl("RENAME TABLE a TO tmp, b TO a, tmp TO b")
    assert row["kind"] == "RENAME_TABLE"
    assert [f.name for f in reg.get("a").fields] == ["y", "z"]
    assert [f.name for f in reg.get("b").fields] == ["x"]


def test_registry_drop_key_is_not_a_column():
    """DROP INDEX/KEY/PRIMARY KEY drop constraints, not columns — a
    column that happens to be NAMED `key` is only dropped by the
    explicit DROP COLUMN form (round-11 review finding)."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (id int, `key` varchar, v int)")
    reg.apply_ddl(
        "ALTER TABLE t DROP KEY idx_name, DROP INDEX other_idx, "
        "DROP PRIMARY KEY, DROP FOREIGN KEY fk1"
    )
    assert [f.name for f in reg.get("t").fields] == ["id", "key", "v"]
    reg.apply_ddl("ALTER TABLE t DROP COLUMN `key`")
    assert [f.name for f in reg.get("t").fields] == ["id", "v"]


def test_registry_first_as_column_name():
    """FIRST is not reserved in MySQL: a trailing column named `first`
    in a DROP/RENAME COLUMN clause must not be peeled as a position
    clause (round-11 review finding)."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (first int, col int, a int)")
    reg.apply_ddl("ALTER TABLE t RENAME COLUMN a TO last")
    reg.apply_ddl("ALTER TABLE t DROP COLUMN first")
    assert [f.name for f in reg.get("t").fields] == ["col", "last"]
    reg.apply_ddl("ALTER TABLE t RENAME COLUMN col TO first")
    assert [f.name for f in reg.get("t").fields] == ["first", "last"]


def test_compat_mode_date_time_as_long(spark):
    """DATE_AND_TIME_AS_LONG also covers DATE and TIME cells: raw longs
    rendered by the UTC-pinned formatters (MysqlTypeDeserializer.java:
    34-45,123-129). Mirrors testDateType ('2019-02-01'/'2019-12-31')
    and testTimeType (42972123 → '11:56:12.123')."""
    from replicator_spark.cdc.decode import date_cell, time_cell

    rows = [
        Row(i=0, ms=1548979200000),  # 2019-02-01T00:00:00Z
        Row(i=1, ms=1577750400000),  # 2019-12-31T00:00:00Z
        Row(i=2, ms=42972123),       # the reference's TIME vector
        Row(i=3, ms=86399999),       # 23:59:59.999 boundary
        Row(i=4, ms=-1),             # pre-epoch: Date(-1) renders
                                     # '23:59:59.999' / '1969-12-31'
        Row(i=5, ms=None),           # NULL cell propagates as NULL
    ]
    got = {
        r["i"]: r
        for r in spark.createDataFrame(rows)
        .select(
            "i",
            date_cell(F.col("ms")).alias("d"),
            time_cell(F.col("ms")).alias("t"),
        )
        .collect()
    }
    assert got[0]["d"] == "2019-02-01"
    assert got[1]["d"] == "2019-12-31"
    assert got[2]["t"] == "11:56:12.123"
    assert got[3]["t"] == "23:59:59.999"
    assert got[3]["d"] == "1970-01-01"
    # SimpleDateFormat renders the INSTANT's UTC time-of-day, so a
    # negative epoch value is NOT a negative clock reading
    assert got[4]["t"] == "23:59:59.999" and got[4]["d"] == "1969-12-31"
    assert got[5]["t"] is None and got[5]["d"] is None


def test_compat_offset_model_matches_zoneinfo(spark):
    """Independent pin of the modeled server zone: the integer-calendar
    EU-DST offset must equal IANA Europe/Paris (base +01:00, EU rule)
    for every instant in the post-1996 unified-rule era — checked over
    seeded random instants plus every DST edge ±1ms for 1997-2036."""
    import random
    from datetime import datetime
    from zoneinfo import ZoneInfo

    from replicator_spark.cdc.decode import server_zone_offset_seconds

    tz = ZoneInfo("Europe/Paris")
    rng = random.Random(42)
    instants = [rng.randrange(852076800000, 2114380800000)  # 1997..2036
                for _ in range(300)]
    # every modeled edge ±1ms: last Sundays of March/October, 01:00 UTC
    from datetime import timezone as _tz
    edges = []
    for y in range(1997, 2037):
        for month in (3, 10):
            last = max(
                d for d in range(25, 32)
                if datetime(y, month, d).weekday() == 6
            )
            e = int(datetime(y, month, last, 1, 0,
                             tzinfo=_tz.utc).timestamp() * 1000)
            edges += [e - 1, e, e + 1]
    instants += edges
    df = spark.createDataFrame(
        [Row(i=i, ms=ms) for i, ms in enumerate(instants)]
    )
    got = {
        r["i"]: r["off"]
        for r in df.select(
            "i", server_zone_offset_seconds(F.col("ms")).alias("off")
        ).collect()
    }
    for i, ms in enumerate(instants):
        want = int(
            datetime.fromtimestamp(ms / 1000, tz).utcoffset().total_seconds()
        )
        assert got[i] == want, (ms, got[i], want)


def test_registry_replays_reference_binlog_fixture():
    """Replay the DDL choreography of the reference's own integration
    fixture mysql.binlog.test.sql (statements inlined verbatim minus
    DML): two CREATEs, the atomic swap RENAME, DROP of the old table —
    the post-replay schema must show `animal` carrying the NEW shape
    (id, name, sc_name) and `_animal_old` gone."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    ddls = [
        # mysql-replicator/src/test/resources/mysql.binlog.test.sql:3-14
        """CREATE TABLE animal (
             id INTEGER NOT NULL AUTO_INCREMENT,
             name VARCHAR(30) CHARACTER SET utf8 NOT NULL,
             PRIMARY KEY (id)
        )""",
        """CREATE TABLE _animal_new (
             id INTEGER NOT NULL AUTO_INCREMENT,
             name VARCHAR(30) CHARACTER SET utf8 NOT NULL,
             sc_name VARCHAR(30) CHARACTER SET utf8 DEFAULT NULL,
             PRIMARY KEY (id)
        )""",
        # :26 the swap, :31 the cleanup
        "RENAME TABLE animal TO _animal_old, _animal_new TO animal",
        "DROP TABLE _animal_old",
    ]
    for s in ddls:
        reg.apply_ddl(s, db="replicator")
    assert set(reg.tables) == {"animal"}
    assert [f.name for f in reg.get("animal").fields] == [
        "id", "name", "sc_name",
    ]
    assert reg.version == 4


def test_registry_replays_reference_activeschema_fixture():
    """Replay the single-database statements of activeschema.test.sql
    (CREATE ... LIKE shadow copy, ALTER ADD on the shadow, leading
    /* comment */ prefixes, swap RENAME, DROP): the surviving `test1`
    must carry the shadow's added `ts` column."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    ddls = [
        # mysql-replicator/src/test/resources/activeschema.test.sql:8-12
        """CREATE TABLE test1 (
             id INTEGER NOT NULL AUTO_INCREMENT,
             name VARCHAR(30) CHARACTER SET utf8 NOT NULL,
             PRIMARY KEY (id)
        )""",
        # :26-27 the shadow copy + widen (leading comment per :17-18)
        "/* osc shadow */ CREATE TABLE test1_new LIKE test1",
        "ALTER TABLE test1_new ADD COLUMN ts TIMESTAMP "
        "DEFAULT '1970-01-01 01:00:00'",
        # :31 the swap, :35 the cleanup
        "/* swap */ RENAME TABLE test1 TO test1_old, test1_new TO test1",
        "DROP TABLE test1_old",
    ]
    rows = [reg.apply_ddl(s, db="replicator") for s in ddls]
    assert rows[1]["kind"] == "CREATE_TABLE"  # comment stripped
    assert set(reg.tables) == {"test1"}
    assert [f.name for f in reg.get("test1").fields] == ["id", "name", "ts"]
    assert reg.get("test1")["ts"].dataType.typeName() == "timestamp"
    # LIKE of a missing source is rejected, like MySQL
    row = reg.apply_ddl("CREATE TABLE ghost_copy LIKE nope")
    assert row["kind"] == "CREATE_UNKNOWN_SOURCE"
    assert reg.get("ghost_copy") is None


def test_registry_create_with_table_options():
    """Real binlog DDL almost always carries table options after the
    column list (ENGINE=, DEFAULT CHARSET=, COMMENT=, PARTITION BY
    with nested parens): the registry must register the table, not
    classify the statement UNKNOWN and silently drop it."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    row = reg.apply_ddl(
        "CREATE TABLE t1 (id INT, v DOUBLE)"
        " ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
    )
    assert row["kind"] == "CREATE_TABLE"
    assert [f.name for f in reg.get("t1")] == ["id", "v"]
    row2 = reg.apply_ddl(
        "CREATE TABLE t2 (d DECIMAL(10,2), e ENUM('a','(b)'))"
        " COMMENT='opts (with parens)' PARTITION BY HASH(d) PARTITIONS 4"
    )
    assert row2["kind"] == "CREATE_TABLE"
    assert [f.name for f in reg.get("t2")] == ["d", "e"]
    # unbalanced parens stay UNKNOWN (not a well-formed CREATE)
    assert reg.apply_ddl("CREATE TABLE broken (id INT")["kind"] == "UNKNOWN"


def test_registry_schema_qualified_rename():
    """RENAME TABLE a TO otherdb.b must rename to the TABLE part —
    the old \\w+ pair pattern stopped at the dot and renamed a to a
    table literally called 'otherdb'."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE a (id INT)")
    row = reg.apply_ddl("RENAME TABLE a TO otherdb.b")
    assert row["kind"] == "RENAME_TABLE" and row["table"] == "a->b"
    assert sorted(reg.tables) == ["b"]
    reg.apply_ddl("RENAME TABLE `x`.`b` TO `y`.`c`")
    assert sorted(reg.tables) == ["c"]


def test_rewrite_db_qualifier_respects_identifier_boundary():
    """Stripping db='db' must not eat the 'db.' suffix inside another
    identifier ('mydb.t' used to become 'myt' — DDL rewritten to
    target a different table)."""
    from replicator_spark.streaming.registry import (
        rewrite_active_schema_name,
    )

    keep = "ALTER TABLE mydb.t ADD COLUMN c INT"
    assert rewrite_active_schema_name(keep, db="db") == keep
    assert rewrite_active_schema_name(
        "ALTER TABLE db.t ADD COLUMN c INT", db="db"
    ) == "ALTER TABLE t ADD COLUMN c INT"
    assert rewrite_active_schema_name(
        "ALTER TABLE `db`.`t` ADD COLUMN c INT", db="db"
    ) == "ALTER TABLE `t` ADD COLUMN c INT"


def test_enum_label_invalid_index_is_null(spark):
    """MySQL stores 0 for an invalid/empty ENUM cell (non-strict
    mode): the decode must yield NULL per its contract — element_at
    THROWS on index 0 and reads from the tail on negatives."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.decode import enum_label

    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (-1,), (None,)], "idx int"
    )
    got = [
        r["lab"]
        for r in df.select(
            enum_label(F.col("idx"), ("a", "b")).alias("lab")
        ).collect()
    ]
    assert got == [None, "a", "b", None, None, None]


def test_dst_window_pre_1970(spark):
    """Pre-1970 epoch days are negative; %'s dividend-sign rule put
    the 'last Sunday' AFTER March 31st, mis-placing the DST window.
    pmod keeps the window correct: 1965's last March Sunday was the
    28th, last October Sunday the 31st."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.decode import _last_sunday_epoch_day

    df = spark.range(1).select(F.lit(1965).alias("y"))
    row = df.select(
        _last_sunday_epoch_day(F.col("y"), 3).alias("mar"),
        _last_sunday_epoch_day(F.col("y"), 10).alias("oct"),
    ).collect()[0]
    import datetime

    epoch = datetime.date(1970, 1, 1)
    assert epoch + datetime.timedelta(days=row["mar"]) == datetime.date(
        1965, 3, 28
    )
    assert epoch + datetime.timedelta(days=row["oct"]) == datetime.date(
        1965, 10, 31
    )


def test_stream_near_dedup_admit_multi_chunk_group():
    """applyInPandasWithState delivers a big group as several Arrow
    chunks in no particular order: only each bucket's group-wide
    minimum may be admitted, so _admit must sort across ALL chunks of
    the micro-batch (a later chunk's smaller doc_id used to be
    admitted alongside an earlier chunk's larger one)."""
    import pickle

    import pandas as pd

    from replicator_spark.streaming.near_dedup import _admit

    class _FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = _FakeState()
    chunks = iter([
        pd.DataFrame({"doc_id": [10, 11], "bucket": ["b", "b"]}),
        pd.DataFrame({"doc_id": [5], "bucket": ["b"]}),
    ])
    (out,) = list(_admit((0, 17), chunks, st))
    got = {int(r.doc_id): bool(r.admitted) for r in out.itertuples()}
    assert got == {5: True, 10: False, 11: False}
    assert pickle.loads(st.get[0]) == {"b": 5}
    # a later micro-batch with a larger id is rejected against state;
    # an unseen bucket sharing the shard admits independently
    (out2,) = list(_admit(
        (0, 17),
        iter([pd.DataFrame({"doc_id": [7, 9], "bucket": ["b", "c"]})]),
        st,
    ))
    v2 = {int(r.doc_id): bool(r.admitted) for r in out2.itertuples()}
    assert v2 == {7: False, 9: True}
    assert pickle.loads(st.get[0]) == {"b": 5, "c": 9}


def test_envelope_wire_before_image_fallback(spark, tmp_path):
    """A user whose history spans micro-batches: the batch-local lag
    has no predecessor for the later batch's UPDATE, so the envelope
    must fall back to the WIRE before-image instead of NULL — the
    reference's before-images come from the binlog row, not from
    feed-local inference. Within one batch the lag still wins."""
    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.sources.binlog import (
        encode_binlog_file,
        envelope_projection,
        read_binlog_files,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    # file 2 carries ONLY the update — its before-image exists on the
    # wire (synthesized as the zeroed row by the fixture writer) but
    # not in any batch containing just this file
    (logs / "binlog.000002").write_bytes(encode_binlog_file(
        [("UPDATE", 2, 2_000_000, 10, "click", 5.0, '{"b":1}')]
    ))
    rows = read_binlog_files(spark, str(logs))
    feed = change_feed_from(envelope_projection(rows), op_col="op")
    (r,) = feed.collect()
    assert r["op"] == "UPDATE"
    assert r["value_before"] == 0.0  # wire image, not NULL
    assert r["props_before"] == "{}"
    assert r["value_after"] == 5.0

    # same-batch predecessor: the lag wins over the wire image
    (logs / "binlog.000001").write_bytes(encode_binlog_file(
        [("INSERT", 1, 1_000_000, 10, "signup", 3.0, '{"a":1}')]
    ))
    rows2 = read_binlog_files(spark, str(logs))
    feed2 = change_feed_from(envelope_projection(rows2), op_col="op")
    upd = [r for r in feed2.collect() if r["op"] == "UPDATE"][0]
    assert upd["value_before"] == 3.0  # lag (true predecessor)
    assert upd["props_before"] == '{"a":1}'
