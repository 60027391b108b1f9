"""session.fan_out's one decision: the scan-task count it works out on
the driver from the file listing, Spark's split arithmetic and the
parquet footers must equal what Spark's scan really does, and the
repartition fires exactly when fewer tasks than the width get rows."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F


@contextmanager
def _confs(spark, confs):
    """Set SQL confs and restore them after."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _write(path, n_rows, row_group_size=None, seed=0):
    """Incompressible int64 rows, plain-encoded, so file bytes track
    the row count."""
    rng = np.random.default_rng(seed)
    t = pa.table({"x": rng.integers(0, 2**62, n_rows)})
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        t,
        path,
        row_group_size=row_group_size or n_rows,
        compression="none",
        use_dictionary=False,
    )
    return path


def _row_tasks(df):
    return df.select(F.spark_partition_id()).distinct().count()


def _helper_count(df):
    from replicator_spark.session import _input_files, _scan_tasks_with_rows

    return _scan_tasks_with_rows(df.sparkSession, _input_files(df))


def _split_one_group(spark, tmp_path):
    """One row group in a file cut into >= defaultParallelism ranges:
    the conf that cuts it, and the file."""
    p = spark.sparkContext.defaultParallelism
    f = _write(tmp_path / "split" / "t.parquet", 25_000)
    return {"spark.sql.files.maxPartitionBytes": f.stat().st_size // p}, f


def _many_groups(spark, tmp_path):
    """8·p row groups, with an open cost small enough that Spark cuts
    the file into ~p ranges: the conf, and the file."""
    p = spark.sparkContext.defaultParallelism
    f = _write(
        tmp_path / "many" / "t.parquet", 8 * p * 1000, row_group_size=1000
    )
    return {"spark.sql.files.openCostInBytes": 1024}, f


def test_scan_tasks_with_rows_matches_spark(spark, tmp_path):
    p = spark.sparkContext.defaultParallelism
    layouts = {}
    layouts["one_file"] = ({}, _write(tmp_path / "one" / "t.parquet", 5000))
    layouts["split_one_group"] = _split_one_group(spark, tmp_path)
    layouts["many_groups"] = _many_groups(spark, tmp_path)
    confs, many = layouts["many_groups"]
    # Spark divides by the session's leaf-node parallelism, not the
    # context's defaultParallelism, when the two differ
    layouts["many_groups_leaf_parallelism"] = (
        {**confs, "spark.sql.leafNodeDefaultParallelism": 2 * p},
        many,
    )
    for i in range(2):
        _write(tmp_path / "parts" / f"part-{i:05d}.parquet", 3000, seed=i)
    layouts["two_parts"] = ({}, tmp_path / "parts")
    for i in range(2 * p):  # uneven sizes, packed several to a task
        tiny = tmp_path / "tiny" / f"part-{i:05d}.parquet"
        _write(tiny, 50 + 40 * i, seed=i)
    layouts["tiny_files"] = (
        {"spark.sql.files.openCostInBytes": 64},
        tmp_path / "tiny",
    )
    got = {}
    for name, (confs, path) in layouts.items():
        with _confs(spark, confs):
            df = spark.read.parquet(str(path))
            got[name] = (_helper_count(df), _row_tasks(df))
    assert {k: v[0] for k, v in got.items()} == {
        k: v[1] for k, v in got.items()
    }
    assert got["one_file"][1] == 1
    assert got["split_one_group"][1] == 1
    assert got["many_groups"][1] >= p
    assert got["many_groups_leaf_parallelism"][1] > got["many_groups"][1]
    assert got["two_parts"][1] == 2
    assert 1 < got["tiny_files"][1] < 2 * p  # packing merged files


def test_fan_out_spreads_a_split_one_row_group_file(spark, tmp_path):
    """A one-row-group file cut into many ranges still has its rows in
    one task, so it is spread to the full width."""
    from replicator_spark.session import fan_out

    p = spark.sparkContext.defaultParallelism
    confs, path = _split_one_group(spark, tmp_path)
    with _confs(spark, confs):
        df = spark.read.parquet(str(path))
        assert df.rdd.getNumPartitions() >= p
        out = fan_out(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == p
        assert _row_tasks(out) == p


def test_fan_out_leaves_a_mid_band_many_row_group_file(spark, tmp_path):
    """A small file whose many row groups Spark already scans as at
    least defaultParallelism row-bearing tasks needs no exchange."""
    from replicator_spark.session import fan_out

    confs, path = _many_groups(spark, tmp_path)
    with _confs(spark, confs):
        df = spark.read.parquet(str(path))
        assert _row_tasks(df) >= spark.sparkContext.defaultParallelism
        assert fan_out(df) is df


def test_fan_out_probe_only_without_a_parquet_listing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A parquet scan is decided from its listing alone; a frame with
    no file provenance, or non-parquet files, falls back to its
    partition count."""
    import os

    from replicator_spark.session import fan_out, read_table, table_path

    p = spark.sparkContext.defaultParallelism
    scan = read_table(spark, sf_dir, "documents")  # one file, one task
    size = os.path.getsize(table_path(sf_dir, "documents"))
    local = spark.range(10).coalesce(1)
    spark.range(10).write.json(str(tmp_path / "js"))
    js = spark.read.json(str(tmp_path / "js"))
    n_js = js.rdd.getNumPartitions()

    probed = []
    frame = type(scan)
    rdd = frame.rdd

    def counting(self):
        probed.append(1)
        return rdd.__get__(self, frame)

    monkeypatch.setattr(frame, "rdd", property(counting))
    assert fan_out(scan).rdd.getNumPartitions() == p
    narrow = fan_out(scan, 96 << 10).rdd.getNumPartitions()
    assert narrow == min(p, -(-size // (96 << 10)))
    assert len(probed) == 2  # only the two checks' own getNumPartitions
    probed.clear()
    assert fan_out(local) is not local
    assert len(probed) == 1
    out = fan_out(js)
    assert (out is js) == (n_js >= p)
    assert len(probed) == 2
