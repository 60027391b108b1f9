"""File-format connectors: distributed JSONL / CSV / ORC round-trips.

The reference's I/O surface is fixed (binlog in; HBase/Kafka/console
out — SURVEY.md §2.1/§2.8); a Spark-native engine gets the full
DataFrameReader/Writer format matrix for free, but "we support CSV"
is only true if it is TESTED — quoting, escaping, schema application,
and type fidelity are exactly where CSV/JSON pipelines corrupt data
silently. Each operator here writes the documents table through a
format's distributed writer into a session scratch directory, reads
it back through the matching reader, and emits a per-source content
CHECKSUM summary; the oracle computes the same summary over the
ORIGINAL table, so a parity pass proves the round trip was
byte-lossless (any mangled character shifts the md5-derived
checksum).

Scale: both sides are plain distributed scans/writes (one task per
split, no exchange until the final tiny agg); the checksum is the same
md5-prefix integer used by the sketch family — map-side, codegen'd,
engine-portable. The temp copy is test-scale plumbing; the operator
under test is the format reader/writer pair itself.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_table, scratch_dir

CHK_MOD = 1_000_000_007  # keep per-row checksums summable as exact BIGINTs


def _chk(col: Column) -> Column:
    """Deterministic per-row content checksum: md5's first 48 bits
    mod a prime — portable to the SQL oracle via nibble arithmetic."""
    return (
        F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")
        % CHK_MOD
    )


def _summary(docs: DataFrame) -> DataFrame:
    """Per-source row count, char volume, and content checksum.
    Every field is NULL-coalesced to a chr(2) sentinel BEFORE the
    concat: concat_ws silently SKIPS null columns (and their
    separators) while the oracle's `||` NULL-propagates and drops the
    whole row from the sum — a single NULL text cell would report a
    lossless round trip as corruption."""
    sent = "\x02"
    row = F.concat_ws(
        "\x01",
        F.coalesce(F.col("doc_id").cast("string"), F.lit(sent)),
        F.coalesce(F.col("text"), F.lit(sent)),
        F.coalesce(F.col("lang"), F.lit(sent)),
        F.coalesce(F.col("n_chars").cast("string"), F.lit(sent)),
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(_chk(row)).cast("bigint").alias("content_chk"),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    out = os.path.join(scratch_dir(f"fmt_{fmt}_"), "docs")
    w = docs.write.mode("overwrite").format(fmt)
    r = spark.read.format(fmt).schema(docs.schema)
    if fmt == "csv":
        # the hostile-content options a production CSV interchange
        # needs even though this corpus is benign: quote everything and
        # keep whitespace on write (Spark's writer TRIMS by default),
        # allow embedded newlines on read, and move the null sentinel
        # off the empty string (the reader otherwise turns "" → NULL).
        # The sentinel is \x01-prefixed so no printable document text
        # can collide with it (a field literally equal to a plain "\\N"
        # sentinel would read back as NULL — round-4 advice item)
        null_tok = "\x01N\x01"
        w = (
            w.option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .option("nullValue", null_tok)
        )
        r = (
            r.option("header", True)
            .option("multiLine", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .option("nullValue", null_tok)
        )
    w.save(out)
    return _summary(r.load(out))


def jsonl_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSON-lines → back: the log-shipping interchange."""
    return _roundtrip(spark, sf_dir, "json")


def csv_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quoted CSV → back: the warehouse-export interchange."""
    return _roundtrip(spark, sf_dir, "csv")


def orc_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC → back: the columnar alternative to parquet."""
    return _roundtrip(spark, sf_dir, "orc")


# Oracle: the SAME summary over the ORIGINAL table — a parity pass
# means the format writer+reader preserved every byte of every row.
_ROW = (
    "COALESCE(CAST(doc_id AS VARCHAR), chr(2)) || chr(1)"
    " || COALESCE(text, chr(2)) || chr(1)"
    " || COALESCE(lang, chr(2)) || chr(1)"
    " || COALESCE(CAST(n_chars AS VARCHAR), chr(2))"
)
_NIBBLE = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5({_ROW}), {i}, 1)) - 1)"
    f" * {16 ** (12 - i)}"
    for i in range(1, 13)
)

ROUNDTRIP_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
    CAST(SUM(({_NIBBLE}) % {CHK_MOD}) AS BIGINT) AS content_chk
FROM documents
GROUP BY source
"""


# ------------------------------------------------ streaming JSONL sink
#
# The streaming half of the format matrix: the event stream written
# through writeStream.format("json") — the log-shipping sink a CDC
# fan-out actually runs — then read back with an explicit schema and
# summarized with exact per-type checksums against the source table.
# A parity pass proves the STREAMING writer round-trips values
# losslessly (JSON shortest-repr doubles re-parse bit-exact) across
# however many micro-batch files the trigger produced. The checksums
# are pure-integer sums — order-free, so file count can't matter.
#
# The value checksum is an integer MICRO-UNIT fold computed with
# identical IEEE double ops in both engines: floor(value*1e6 + 0.5)
# is a double multiply + add + floor — bit-identical everywhere —
# whereas round(value, 6)/DECIMAL casts go through each engine's own
# decimal-conversion path (Spark: shortest-repr BigDecimal HALF_UP;
# DuckDB: scaled float-space rounding), which disagree for values
# within an ulp of a 5e-7 boundary (the round-6 driver red row).
# floor(x) on an exactly-integral double < 2^53 casts losslessly to
# BIGINT in both engines (values are bounded ~1e3, so x*1e6 ~ 1e9).

CHK_TS_MOD = 1_000_000_007


def stream_jsonl_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.drive import file_sink

    stream = read_table(spark, sf_dir, "events", stream=True).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("ts div 1000000").alias("ts_ms"),
    )
    back = file_sink(stream, "stream_jsonl_", fmt="json")
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
        F.sum(F.col("ts_ms") % CHK_TS_MOD).cast("bigint").alias("sum_ts_mod"),
        F.sum(F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)))
        .cast("bigint")
        .alias("value_usum"),
    )


STREAM_JSONL_SINK_SQL = f"""
SELECT event_type, COUNT(*) AS n_events,
    CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
    CAST(SUM(epoch_ms(ts) % {CHK_TS_MOD}) AS BIGINT) AS sum_ts_mod,
    CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS value_usum
FROM events
GROUP BY event_type
"""


REGISTRY = [
    ("source_jsonl_roundtrip", jsonl_roundtrip_query, ROUNDTRIP_SQL),
    ("source_csv_roundtrip", csv_roundtrip_query, ROUNDTRIP_SQL),
    ("source_orc_roundtrip", orc_roundtrip_query, ROUNDTRIP_SQL),
    ("stream_jsonl_sink", stream_jsonl_sink_query, STREAM_JSONL_SINK_SQL),
]
