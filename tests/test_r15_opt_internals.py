"""Focused pins for round-15 optimization internals (round rule: an
optimization that changes an operator's internals adds a test)."""

from __future__ import annotations

import pytest


# ------------------------------------------ trainer partial reduction


def _partials_frame(spark):
    # duplicate (cid, dim) keys spread across partitions, values chosen
    # so a float reduce would drift but an exact integer one cannot
    rows = [
        (0, 0, 10**17 + 1, 3),
        (0, 0, 10**17 + 3, 2),
        (1, 0, -5, 1),
        (1, 63, 7, 4),
        (1, 63, -7, 1),
        (15, 63, 123456789012345, 2),
    ]
    return spark.createDataFrame(
        rows, "cid int, dim int, sx long, n long"
    ).repartition(4)


def test_reduce_partials_direct_matches_groupby(spark):
    from replicator_spark.pipeline.vectors import _reduce_partials

    part = _partials_frame(spark)
    direct = _reduce_partials(part, ["cid", "dim"], n_partial_rows=6)
    via_spark = _reduce_partials(
        part, ["cid", "dim"], n_partial_rows=10**9
    )
    assert direct == via_spark
    assert direct[(0, 0)] == (2 * 10**17 + 4, 5)
    assert direct[(1, 63)] == (0, 5)


def test_km_train_centroids_unchanged_by_reduce_path(spark, sf_dir):
    """The driver-side exact reduce must yield bit-identical centroids
    to the Spark decimal(38,0) groupBy path over the real corpus."""
    import replicator_spark.pipeline.vectors as V

    emb = V._km_corpus(spark, sf_dir).persist()
    cents_direct = V._km_train(emb)
    old_cap = V._PARTIAL_COLLECT_MAX_ROWS
    V._PARTIAL_COLLECT_MAX_ROWS = 0  # force the groupBy path
    try:
        cents_spark = V._km_train(emb)
    finally:
        V._PARTIAL_COLLECT_MAX_ROWS = old_cap
    emb.unpersist()
    assert cents_direct == cents_spark


def test_trainer_partials_fold_arrow_batches_per_partition(spark, sf_dir):
    """Each Lloyd/PQ round emits ONE partial set per partition however
    many Arrow batches the partition reads, so n_parts × K × d bounds
    the partial rows the collect cap is checked against; the trained
    codebooks are bit-identical to the default-batch run."""
    import replicator_spark.pipeline.vectors as V

    emb = V._km_corpus(spark, sf_dir).persist()
    subs = V._pq_subvectors(emb).persist()
    n_km, n_pq = emb.rdd.getNumPartitions(), subs.rdd.getNumPartitions()
    km_default, pq_default = V._km_train(emb), V._pq_train(spark, subs)
    d = len(km_default[0])
    d_sub = len(next(iter(pq_default.values())))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "16")
    try:
        assert emb.count() > 4 * 16 * n_km  # several batches a partition
        km_part = emb.select("v").mapInArrow(
            V._km_round_fn(km_default), V._KM_PARTIAL_SCHEMA
        )
        assert km_part.count() <= n_km * V.KMEANS_K * d
        pq_part = subs.select("sub", "subv").mapInArrow(
            V._pq_round_fn(pq_default), V._PQ_PARTIAL_SCHEMA
        )
        assert pq_part.count() <= n_pq * V.PQ_K * V.PQ_M * d_sub
        km_small, pq_small = V._km_train(emb), V._pq_train(spark, subs)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        subs.unpersist()
        emb.unpersist()
    assert km_small == km_default
    assert pq_small == pq_default


# ------------------------------------------------ wire-op fan-out width


def test_wire_fan_out_width_derives_from_source_size(spark, sf_dir):
    """The wire ops' pre-codec spread must follow ceil(bytes/128KiB)
    capped at defaultParallelism — not a flat repartition."""
    import math
    import os

    from replicator_spark.session import fan_out, read_table, table_path
    from replicator_spark.sources.binlog import _WIRE_BYTES_PER_TASK

    ev = read_table(spark, sf_dir, "events").select("event_id")
    out = fan_out(ev, _WIRE_BYTES_PER_TASK)
    size = os.path.getsize(table_path(sf_dir, "events"))
    want = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(size / _WIRE_BYTES_PER_TASK),
        ),
    )
    assert out.rdd.getNumPartitions() == want


def test_wire_fan_out_sizes_a_part_file_directory_like_one_file(
    spark, tmp_path
):
    """An events.parquet DIRECTORY of part files gets the width of the
    same rows in one file: the width comes from the scan's files, not
    from the directory inode's size (which gave width 1)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicator_spark.session import fan_out
    from replicator_spark.sources.binlog import _WIRE_BYTES_PER_TASK

    rng = random.Random(7)  # incompressible: ~2.5 tasks of bytes
    t = pa.table({"b": [rng.randbytes(8000) for _ in range(40)]})
    one = tmp_path / "one" / "events.parquet"
    one.parent.mkdir()
    pq.write_table(t, one)
    parts = tmp_path / "parts" / "events.parquet"
    parts.mkdir(parents=True)
    pq.write_table(t.slice(0, 20), parts / "part-00000.parquet")
    pq.write_table(t.slice(20), parts / "part-00001.parquet")

    def width(path):
        return fan_out(
            spark.read.parquet(str(path)), _WIRE_BYTES_PER_TASK
        ).rdd.getNumPartitions()

    assert 2 * _WIRE_BYTES_PER_TASK < one.stat().st_size
    assert one.stat().st_size < 3 * _WIRE_BYTES_PER_TASK - 4096
    assert spark.sparkContext.defaultParallelism >= 3
    assert width(parts) == width(one) == 3


# ------------------------- vectorized serving passes (bit-exactness)


def test_km_assign_arrow_bitwise_equals_fold(spark, sf_dir):
    """The Arrow serving pass must reproduce _assign / _assign2
    bit-for-bit (cid, d2, d2b) over the real corpus."""
    import replicator_spark.pipeline.vectors as V

    emb = V._km_corpus(spark, sf_dir).persist()
    cents = V._km_train(emb)

    ref = {
        r["vec_id"]: (r["cid"], r["d2"])
        for r in V._assign(emb, cents).collect()
    }
    got = {
        r["vec_id"]: (r["cid"], r["d2"])
        for r in V._km_assign_arrow(
            emb, cents, with_vec_id=True
        ).collect()
    }
    assert ref == got

    ref2 = {
        r["vec_id"]: (r["cid"], r["d2"], r["d2b"])
        for r in V._assign2(emb, cents).collect()
    }
    got2 = {
        r["vec_id"]: (r["cid"], r["d2"], r["d2b"])
        for r in V._km_assign_arrow(
            emb, cents, with_vec_id=True, second=True
        ).collect()
    }
    emb.unpersist()
    assert ref2 == got2


def test_pq_assign_arrow_bitwise_equals_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    import replicator_spark.pipeline.vectors as V
    from replicator_spark.session import table_path

    emb = spark.read.parquet(table_path(sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    subs = V._pq_subvectors(emb).persist()
    cents = V._pq_train(spark, subs)
    ref = {
        (r["vec_id"], r["sub"]): (r["cid"], r["d2"])
        for r in V._pq_assign(spark, subs, cents).collect()
    }
    got = {
        (r["vec_id"], r["sub"]): (r["cid"], r["d2"])
        for r in V._pq_assign_arrow(subs, cents).collect()
    }
    subs.unpersist()
    assert ref == got
