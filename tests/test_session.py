"""The session's one way in and one way out: `read_table` streams a
table exactly as it batch-reads it, in either parquet layout, and every
scratch directory the package makes lives under the SparkContext's
SparkFiles root, which `spark.stop()` removes. Also the one parse of
`SPARK_GRAFT_CPUS`."""

from __future__ import annotations

import glob
import os
import pickle
import shutil
import signal
import subprocess
import sys
import textwrap
from urllib.parse import unquote, urlparse

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_graft_cpus_is_one_rule():
    from replicator_spark.session import _graft_cpus

    assert _graft_cpus({}) == 32
    assert _graft_cpus({"SPARK_GRAFT_CPUS": ""}) == 32
    assert _graft_cpus({"SPARK_GRAFT_CPUS": "4"}) == 4
    for bad in ("four", "0", "-2", "2.5", "*"):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            _graft_cpus({"SPARK_GRAFT_CPUS": bad})


def test_prep_sizes_shuffle_partitions_when_called(spark, monkeypatch):
    """`prep` reads SPARK_GRAFT_CPUS when it runs, not when the session
    module was imported."""
    from replicator_spark.session import prep

    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "13")
    try:
        prep(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    """`events` and `documents` as the source data ships them (raw, so
    the physical ts encoding is kept) in two sf directories: ``flat``
    holds each table as one parquet file next to the other, ``parts``
    as a directory of two part files."""
    base = tmp_path_factory.mktemp("layouts")
    flat, parts = base / "flat", base / "parts"
    flat.mkdir()
    for name in ("events", "documents"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        tmp = str(base / f"tmp_{name}")
        df.coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.copy(part, flat / f"{name}.parquet")
        out = str(parts / f"{name}.parquet")
        df.repartition(2).write.parquet(out)
        assert len(glob.glob(os.path.join(out, "part-*.parquet"))) == 2
    return {"flat": str(flat), "parts": str(parts)}


@pytest.mark.parametrize("layout", ["flat", "parts"])
@pytest.mark.parametrize("name", ["events", "documents"])
def test_stream_read_equals_batch_read(spark, layouts, name, layout):
    """Draining the table stream gives the batch read's rows, with the
    batch read's types (events' ts canonical on both paths)."""
    from replicator_spark.session import read_table
    from replicator_spark.streaming.drive import file_sink

    d = layouts[layout]
    batch = read_table(spark, d, name)
    stream = read_table(spark, d, name, stream=True)
    assert stream.isStreaming and stream.dtypes == batch.dtypes
    drained = file_sink(stream, "stream_read_")
    assert drained.count() == batch.count() > 0
    assert drained.exceptAll(batch).count() == 0
    assert batch.exceptAll(drained).count() == 0


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_stream_op_over_an_empty_stream_is_empty(spark, sf_dir, tmp_path, fmt):
    """A stream op over a table stream that never emits a micro-batch
    (an empty table directory) drains to an empty frame with the op's
    columns, where reading the sink back by inference would raise."""
    from replicator_spark.session import normalize_events
    from replicator_spark.streaming.drive import file_sink
    from replicator_spark.streaming.scd2_state import build_scd2_stream

    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    (tmp_path / "events").mkdir()
    op = build_scd2_stream(normalize_events(
        spark.readStream.schema(schema).parquet(str(tmp_path / "events"))))
    got = file_sink(op, "empty_stream_", fmt)
    assert got.columns == op.columns
    assert got.count() == 0


# Runs in a fresh interpreter, started outside the repo with the repo on
# the driver's sys.path only: a binlog decode, a trainer, a file_sink
# op, an epoch_sink op and a format round trip. It records every
# directory the package makes through tempfile.mkdtemp, the SparkFiles
# root, and each op's canonical result.
_ANYWHERE = """
import os, pickle, sys, tempfile

sys.path.insert(0, {repo!r})
made = []
_mkdtemp = tempfile.mkdtemp


def mkdtemp(*args, **kwargs):
    path = _mkdtemp(*args, **kwargs)
    if sys._getframe(1).f_globals.get("__name__", "").startswith(
            "replicator_spark"):
        made.append(path)
    return path


tempfile.mkdtemp = mkdtemp

from pyspark import SparkFiles

from replicator_spark import api
from replicator_spark.session import get_spark
from replicator_spark.sources.binlog import (
    encode_binlog_file, read_binlog_files)
from tools.parity import canon

spark = get_spark("anywhere")
logs = os.path.join(os.getcwd(), "logs")
os.makedirs(logs)
base = 1_700_000_000_000_000
recs = [("INSERT", i, base + i * 1_000_000, i % 3, "click", float(i), "{{}}")
        for i in range(1, 11)]
with open(os.path.join(logs, "binlog.000001"), "wb") as f:
    f.write(encode_binlog_file(recs))
out = {{"binlog_rows": read_binlog_files(spark, logs).count(), "ops": {{}}}}
qs = api.queries()
for name in {ops!r}:
    df = qs[name](spark, {sf_dir!r})
    out["ops"][name] = (canon(df.toPandas()), df.inputFiles())
out["root"] = SparkFiles.getRootDirectory()
out["made"] = list(made)
spark.stop()
with open({result!r}, "wb") as f:
    pickle.dump(out, f)
"""

_OPS = ("emb_kmeans", "stream_dedup_exact", "stream_upsert",
        "source_jsonl_roundtrip")


def test_runs_anywhere_and_leaves_nothing(duck, sf_dir, tmp_path):
    """Started from another directory, the package's Python workers
    import it, its scratch directories sit under the SparkFiles root,
    and after `spark.stop()` none of them exists and TMPDIR holds
    nothing of them."""
    from replicator_spark import api
    from tools.parity import canon

    cwd, tmp, local = (tmp_path / d for d in ("cwd", "tmp", "local"))
    for d in (cwd, tmp, local):
        d.mkdir()
    result = str(tmp_path / "result.pkl")
    script = tmp_path / "anywhere.py"
    script.write_text(textwrap.dedent(_ANYWHERE).format(
        repo=REPO, ops=_OPS, sf_dir=os.path.abspath(sf_dir), result=result))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local),
               SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    proc = subprocess.Popen(
        [sys.executable, str(script)], cwd=str(cwd), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        start_new_session=True)
    try:
        log, _ = proc.communicate(timeout=600)
    finally:
        # the JVM and its Python workers share the child's group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    assert proc.returncode == 0, log.decode(errors="replace")[-4000:]
    with open(result, "rb") as f:
        out = pickle.load(f)

    assert out["binlog_rows"] == 10
    oracles = api.oracle_sql()
    for name in _OPS:
        got, _ = out["ops"][name]
        assert got == canon(duck.execute(oracles[name]).fetchdf()), name

    root = os.path.realpath(out["root"])
    assert root.startswith(os.path.realpath(local) + os.sep)
    scratch = list(out["made"])
    for name in _OPS[1:]:  # the three ops that write and read back
        files = out["ops"][name][1]
        assert files, name
        scratch += [unquote(urlparse(f).path) for f in files]
    assert len(out["made"]) >= 3
    for path in scratch:
        assert os.path.realpath(path).startswith(root + os.sep), path
        assert not os.path.exists(path), path
    assert not os.path.exists(root)
    assert os.listdir(tmp) == []
