"""Config-driven pipeline runner: the reference's yaml-config surface
(source → augment filters → partitioner → applier) composed from the
verified operators. Reference: Replicator.java:95-204, config.yaml."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from replicator_spark.runner import (
    DEMO_CONFIG,
    apply_sink,
    build_feed,
    run_batch,
    run_stream,
    runner_pipeline_query,
)


def test_filters_and_merge_applied(spark, sf_dir):
    out = runner_pipeline_query(spark, sf_dir).collect()
    tables = {r["table_name"] for r in out}
    # merge strips the monthly suffix entirely
    assert tables == {"users"}
    # QUERY gate dropped the QUERY class
    assert all(r["op"] != "QUERY" for r in out)


def test_include_overrides_exclude(spark, sf_dir):
    cfg = {**DEMO_CONFIG, "augmenter.table.merge": False}
    feed = build_feed(spark, sf_dir, cfg)
    months = {
        r["table_name"]
        for r in feed.select("table_name").distinct().collect()
    }
    # H1-2024 excluded... except the whitelisted January
    assert "users_202401" in months
    assert not any(
        m.startswith("users_2024") and m[-2:] in
        {"02", "03", "04", "05", "06"}
        for m in months
    )


def test_partitioner_controls_exchange(spark, sf_dir):
    n = 4
    feed = build_feed(
        spark, sf_dir,
        {**DEMO_CONFIG, "partitioner.type": "XXID",
         "replicator.tasks": n},
    )
    assert feed.rdd.getNumPartitions() == n


def test_include_exclude_gate_quotes_config_values(spark):
    """The gate is SQL text built from config values: a quote or a
    backslash in a table name or in the exclude regex must reach Spark
    as that character, not end the literal or vanish as an escape."""
    from replicator_spark.cdc.filters import should_augment_table_sql

    names = spark.createDataFrame(
        [("users_202401",), ("users_x",), ("it's",), ("a\\b",)], "t string"
    )
    gate = should_augment_table_sql(
        "t", include=["it's"], exclude_pattern=r"^users_\d+$|'|\\"
    )
    assert {r["t"] for r in names.where(gate).collect()} == {"users_x", "it's"}


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [re.sub(r"#\d+L?", "", line[line.index("Exchange "):])
            for line in plan.splitlines() if "Exchange " in line]


def test_no_applier_plans_the_partitioner_exchange(spark, multibatch_binlog):
    """No applier pays the partitioner's exchange: the Kafka applier
    routes each message by its `partition` column, the console applier
    orders by event_id, and the count and time-machine appliers
    re-shuffle on their own keys. So the Kafka plan's one exchange is
    the envelope's hash(user_id), which keeps each transaction (one
    user) in one task, and no applier plan holds a user repartition."""
    base = {"source.type": "binlog_files",
            "source.binlog.path": multibatch_binlog()}
    plans = {kind: _exchanges(run_batch(spark, None,
                                        {**base, "applier.type": kind}))
             for kind in ("count", "console", "kafka", "timemachine")}
    for kind, exchanges in plans.items():
        assert "REPARTITION_BY_NUM" not in " ".join(exchanges), (kind, exchanges)
    (kafka,) = plans["kafka"]
    assert kafka.startswith("Exchange hashpartitioning(user_id, "), kafka
    tm = plans["timemachine"]
    assert len(tm) == 2, tm
    assert tm[1].startswith("Exchange hashpartitioning(user_id, "), tm


@pytest.mark.parametrize("kind,cols", [
    ("count", {"op", "n_events"}),
    ("console", {"event_id", "line"}),
    ("kafka", {"event_id", "topic", "partition", "key", "value"}),
    ("timemachine", None),  # cells schema checked by its own tests
])
def test_all_applier_types_compose(spark, sf_dir, kind, cols):
    df = run_batch(
        spark, sf_dir, {**DEMO_CONFIG, "applier.type": kind}
    )
    assert df.count() > 0
    if cols:
        assert set(df.columns) == cols


def test_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streamed composition (foreachBatch per micro-batch) must
    produce the same count-sink totals as the batch plan — the
    streaming==batch guarantee the runner inherits from job.py."""
    cfg = {**DEMO_CONFIG, "applier.type": "count"}
    out = os.path.join(str(tmp_path), "out")
    run_stream(
        spark, sf_dir, cfg, out, os.path.join(str(tmp_path), "ckpt")
    )
    streamed = (
        spark.read.parquet(out)
        .groupBy("op")
        .agg(F.sum("n_events").alias("n_events"))
    )
    batch = run_batch(spark, sf_dir, cfg)
    a = {(r["op"], r["n_events"]) for r in streamed.collect()}
    b = {(r["op"], r["n_events"]) for r in batch.collect()}
    assert a == b


def test_applier_collapse_nets_the_feed(spark, sf_dir):
    """applier.collapse=True routes the count applier through net-effect
    compaction: per-op counts must equal the net feed's op counts, and
    must shrink (or hold) vs the raw feed."""
    import pytest
    from pyspark.sql import functions as F

    from replicator_spark.cdc.apply import net_effect_query
    from replicator_spark.runner import run_batch

    raw = {
        r["op"]: r["n_events"]
        for r in run_batch(spark, sf_dir, {"applier.type": "count"}).collect()
    }
    collapsed = {
        r["op"]: r["n_events"]
        for r in run_batch(
            spark, sf_dir, {"applier.type": "count", "applier.collapse": True}
        ).collect()
    }
    want = {
        r["net_op"]: r["cnt"]
        for r in net_effect_query(spark, sf_dir)
        .groupBy("net_op")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert collapsed == want
    assert sum(collapsed.values()) <= sum(
        v for k, v in raw.items() if k in ("INSERT", "UPDATE", "DELETE")
    )
    # sinks that need per-event txn metadata refuse the collapsed feed
    with pytest.raises(ValueError, match="collapse"):
        run_batch(
            spark,
            sf_dir,
            {"applier.type": "timemachine", "applier.collapse": True},
        )


def test_survey_inventory_in_lockstep_with_registry():
    """SURVEY.md §2.12's generated table must list exactly the
    registered operators (regenerate with
    `python tools/gen_survey_inventory.py --write` after adding ops)."""
    import os
    import re

    from replicator_spark import api

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    rows = re.findall(r"^\| `([a-z0-9_]+)` \| `[a-z0-9_/]+\.py:\d+` \|", survey, re.M)
    assert sorted(rows) == sorted(api.queries()), (
        len(rows), len(api.queries()),
    )


def test_binlog_files_source_equals_parquet_row_slice(
    spark, sf_dir, tmp_path
):
    """source.type=binlog_files: real binlog v4 blobs on disk drive the
    SAME composed pipeline, and the result equals the parquet-source
    run restricted to row events (a binlog file source carries exactly
    the row events — QUERY events have no row image)."""
    from replicator_spark.cdc.envelope import OP_CASE_SQL
    from replicator_spark.session import read_table
    from replicator_spark.sources.binlog import encode_binlog_file

    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            F.expr(OP_CASE_SQL).alias("op"),
            "event_id",
            F.expr("ts div 1000").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .where(F.col("op") != "QUERY")
        .orderBy("event_id")
        .collect()
    )
    recs = [tuple(r) for r in ev]
    (tmp_path / "binlog.000001").write_bytes(
        encode_binlog_file(recs[: len(recs) // 2])
    )
    (tmp_path / "binlog.000002").write_bytes(
        encode_binlog_file(recs[len(recs) // 2 :])
    )
    cfg = {
        "source.type": "binlog_files",
        "source.binlog.path": str(tmp_path),
        "augmenter.table.merge": True,
        "applier.type": "count",
    }
    got = {
        (r["op"], r["n_events"])
        for r in run_batch(spark, None, cfg).collect()
    }
    want = {
        (r["op"], r["n_events"])
        for r in run_batch(
            spark, sf_dir, {"augmenter.table.merge": True}
        ).collect()
    }
    assert got == want

    with pytest.raises(ValueError, match="source.type"):
        run_batch(spark, sf_dir, {"source.type": "nope"})


def test_binlog_cells_across_micro_batches_suppression(
    spark, tmp_path, multibatch_binlog
):
    """The composed topology (runner config, timemachine applier) over
    the multi-batch golden 3-file stream, one micro-batch per file:
    per-epoch cells union == batch cells, and the changed-column
    suppression holds across the batch boundary —
    UPDATE e4 (props unchanged vs a PREVIOUS batch) emits no props
    cell; UPDATE e5 (value unchanged) emits no value cell. run_stream
    returns the drained query's progress, one record per epoch."""
    logs = multibatch_binlog()
    cfg = {
        "source.type": "binlog_files",
        "source.binlog.path": logs,
        "source.binlog.max_files_per_trigger": 1,
        "applier.type": "timemachine",
    }
    out, ckpt = str(tmp_path / "cells"), str(tmp_path / "ckpt2")
    progress = run_stream(spark, None, cfg, out, ckpt)
    assert len(
        [d for d in os.listdir(out) if d.startswith("epoch=")]
    ) == 3
    # one progress record per epoch; the binlog source's input rows are
    # files (decoding runs after the file source), one per epoch
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    assert all(p["durationMs"]["addBatch"] >= 0 for p in progress)
    assert [p["numInputRows"] for p in progress] == [1, 1, 1]
    got = spark.read.parquet(out)
    want = run_batch(spark, None, cfg)
    cols = sorted(want.columns)
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w  # byte-identical cells

    cells = {
        (r["event_id"], r["column_name"]) for r in got.collect()
    }
    assert (4, "value") in cells and (4, "props") not in cells
    assert (5, "props") in cells and (5, "value") not in cells
    assert (6, "row_status") in cells and (6, "value") not in cells


def test_binlog_kafka_messages_across_micro_batches(
    spark, tmp_path, multibatch_binlog
):
    """The Kafka applier over the multi-batch golden 3-file stream, one
    micro-batch per file: run_stream's messages equal run_batch's as a
    multiset, each event_id is delivered once, and each transaction of
    an epoch lies in one part file — the envelope's hash(user_id)
    exchange keeps a transaction in one task, with no partitioner
    exchange in front of the applier."""
    from collections import Counter

    cfg = {
        "source.type": "binlog_files",
        "source.binlog.path": multibatch_binlog(),
        "source.binlog.max_files_per_trigger": 1,
        "applier.type": "kafka",
    }
    out = str(tmp_path / "kafka")
    progress = run_stream(spark, None, cfg, out, str(tmp_path / "ckpt"))
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    got = spark.read.parquet(out)
    want = run_batch(spark, None, cfg)
    cols = want.columns
    assert Counter(tuple(r) for r in got.select(cols).collect()) == Counter(
        tuple(r) for r in want.collect())
    ids = [r["event_id"] for r in got.select("event_id").collect()]
    assert sorted(ids) == sorted(set(ids)) == list(range(1, 8))
    split = (
        got.select("epoch",
                   F.get_json_object("value", "$.txn_uuid").alias("txn"),
                   F.input_file_name().alias("part"))
        .groupBy("epoch", "txn").agg(F.countDistinct("part").alias("n"))
    )
    assert split.count() > 0
    assert split.where("n > 1").count() == 0


def test_run_stream_binlog_timemachine_restart_across_rotation(
    spark, tmp_path, wire_recs
):
    """The reference's steady-state topology (SURVEY §3.1) on the real
    wire format, driven by config: binlog files → envelope → txn
    stamping/µs organizer → time-machine cells via foreachBatch —
    killed after file 1, restarted on the SAME checkpoint after the
    server rotates files 2 and 3 in. The union of per-epoch cell
    outputs must equal the batch twin over the full log directory
    (users are file-disjoint so the envelope's per-user lag fields are
    epoch-invariant), with no file decoded twice."""
    from replicator_spark.sources.binlog import encode_binlog_file

    logs = tmp_path / "logs"
    logs.mkdir()
    cfg = {
        "source.type": "binlog_files",
        "source.binlog.path": str(logs),
        "applier.type": "timemachine",
    }
    # distinct users and distinct commit seconds per file, so the
    # lag-derived envelope fields and the per-second txn sequence are
    # identical between per-epoch slices and the batch twin
    f1 = (wire_recs([1, 2], user=10, sec_base=0)
          + wire_recs([3], op="UPDATE", user=10, sec_base=0))
    f2 = (wire_recs([11, 12], user=20, sec_base=100)
          + wire_recs([13], op="DELETE", user=20, sec_base=100))
    f3 = wire_recs([21], user=30, sec_base=200)
    (logs / "binlog.000001").write_bytes(
        encode_binlog_file(f1, txn_ids=[1, 1, 2])
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # lifetime 1: drains file 1, then the process dies
    run_stream(spark, None, cfg, out, ckpt)
    epoch0 = spark.read.parquet(out + "/epoch=0")
    n_epoch0 = epoch0.count()
    assert n_epoch0 > 0

    # rotation: files 2 and 3 land while the replicator is down
    (logs / "binlog.000002").write_bytes(
        encode_binlog_file(f2, txn_ids=[3, 3, 4])
    )
    (logs / "binlog.000003").write_bytes(
        encode_binlog_file(f3, txn_ids=[5])
    )

    # lifetime 2: SAME checkpoint — only the new files decode
    run_stream(spark, None, cfg, out, ckpt)
    got = spark.read.parquet(out)
    want = run_batch(spark, None, cfg)
    # lifetime 2 added cells (files 2+3) without re-decoding file 1
    assert got.count() == want.count() > n_epoch0
    cols = want.columns
    assert got.select(cols).exceptAll(want).count() == 0
    assert want.exceptAll(got.select(cols)).count() == 0


def test_streaming_drive_lives_in_one_module():
    """Every streaming query in the package drains through
    streaming/drive.py's `_drain`: no other module starts its own
    availableNow query or waits on one."""
    root = pathlib.Path(__file__).resolve().parents[1] / "replicator_spark"
    words = ("awaitTermination(", "availableNow")
    hits = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if any(w in p.read_text() for w in words)
    }
    assert hits == {"streaming/drive.py"}
