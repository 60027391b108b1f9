"""Testdata physical-schema drift armor: the driver regenerated
events.parquet between rounds changing ts from INT64-nanos to
TIMESTAMP-µs, which broke every time-deriving query. These tests pin
the contract: the engine produces IDENTICAL results over either
encoding (and fails loudly, not silently-1000×-shifted, for the
streaming reader)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dual_dirs(spark, sf_dir, tmp_path_factory):
    """Copies of the events table in every encoding the driver has
    shipped or could plausibly ship next, same logical instants:
    INT64 epoch-nanos, TIMESTAMP-µs, DECIMAL(20,6) epoch-seconds,
    DECIMAL(20,0) epoch-micros, ISO-text and digit-text epoch-micros
    (the preemptive round-4 armor)."""
    from replicator_spark.session import normalize_events

    import glob
    import shutil

    base = tmp_path_factory.mktemp("drift")
    nanos_dir = str(base / "nanos")
    micros_dir = str(base / "micros")
    ev = normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ).limit(2000)

    # mirror the real testdata layout: events.parquet is a single FILE
    def _write_flat(df, out_dir):
        tmp = os.path.join(str(base), "tmp_write")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.makedirs(out_dir, exist_ok=True)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.copy(part, os.path.join(out_dir, "events.parquet"))
        shutil.rmtree(tmp)

    dec_sec_dir = str(base / "dec_sec")
    dec_us_dir = str(base / "dec_us")
    _write_flat(ev, nanos_dir)
    _write_flat(
        ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))),
        micros_dir,
    )
    # µs-precision decimals: seconds with 6 fractional digits, and a
    # plain integer-micros decimal (scale 0)
    _write_flat(
        ev.withColumn(
            "ts",
            (F.col("ts").cast("decimal(38,0)") / 1000)
            .cast("decimal(20,0)")  # exact: ts is µs-aligned
            .cast("decimal(26,6)") / 1000000,
        ),
        dec_sec_dir,
    )
    _write_flat(
        ev.withColumn(
            "ts",
            (F.col("ts").cast("decimal(38,0)") / 1000).cast("decimal(20,0)"),
        ),
        dec_us_dir,
    )
    # STRING encodings (round-4 preemptive armor): ISO timestamp text
    # and a digit-string of epoch-micros
    str_iso_dir = str(base / "str_iso")
    str_us_dir = str(base / "str_us")
    _write_flat(
        ev.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("string"),
        ),
        str_iso_dir,
    )
    _write_flat(
        ev.withColumn("ts", F.expr("ts div 1000").cast("string")),
        str_us_dir,
    )
    return (
        nanos_dir, micros_dir, dec_sec_dir, dec_us_dir,
        str_iso_dir, str_us_dir,
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_change_feed_identical_across_encodings(spark, dual_dirs):
    from replicator_spark.cdc.envelope import change_feed

    nanos_dir = dual_dirs[0]
    want = _canon(change_feed(spark, nanos_dir))
    for d in dual_dirs[1:]:
        assert _canon(change_feed(spark, d)) == want, d


def test_normalize_events_yields_long_nanos(spark, dual_dirs):
    from replicator_spark.session import read_table

    for d in dual_dirs:
        df = read_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "bigint", d
    want = _canon(read_table(spark, dual_dirs[0], "events"))
    for d in dual_dirs[1:]:
        assert _canon(read_table(spark, d, "events")) == want, d


def test_streaming_reader_identical_across_encodings(spark, dual_dirs):
    """The streaming source must not silently misread µs as nanos —
    the exact failure mode of the round-2 regression."""
    from replicator_spark.session import read_table

    outs = []
    for d in dual_dirs:
        stream = read_table(spark, d, "events", stream=True)
        assert dict(stream.dtypes)["ts"] == "bigint"
        out = os.path.join(d, "out")
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        outs.append(_canon(spark.read.parquet(out)))
    assert all(o == outs[0] for o in outs[1:])
