"""SparkSession construction + per-query session prep.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs
below are chosen so the same logical plans scale to a real cluster:
AQE on (runtime coalesce + skew-join), shuffle partitions sized to
cores locally (cluster: ~2-3x total cores), UTC session time so
results are zone-independent, Arrow enabled for the Pandas-UDF paths.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _graft_cpus(env=os.environ) -> int:
    """The local core count: ``SPARK_GRAFT_CPUS``, 32 when unset."""
    raw = env.get("SPARK_GRAFT_CPUS") or "32"
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return cpus


# The directory that holds replicator_spark/. get_spark puts it on the
# Python workers' path, so they import the package wherever the driver
# was started: a plain directory, not an addPyFile zip, because a
# zipimporter re-reads its archive on every task.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Confs that MUST hold for our readers/expressions regardless of who
# built the session (the driver harness builds its own). All of these
# are runtime-settable SQLConfs.
RUNTIME_CONFS = {
    # driver testdata events.parquet uses INT64(TIMESTAMP_NANOS,...) which
    # Spark's parquet reader rejects; read the nanos as plain longs and
    # convert explicitly (see cdc/envelope.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # zone-independent date_format/unix_millis — parity with the DuckDB
    # oracle (naive-UTC timestamps) and with the reference's pinned-UTC
    # fixtures (SURVEY.md §7 "zone-dependent timestamp math").
    "spark.sql.session.timeZone": "UTC",
}


def _runtime_confs() -> dict[str, str]:
    """`RUNTIME_CONFS` plus the shuffle width, sized when called: the
    default 200 shuffle partitions over-parallelizes local runs by an
    order of magnitude (AQE coalesces batch plans, but stateful
    streaming ops are pinned to this number at first run). Sized from
    $SPARK_GRAFT_CPUS (floor 8), read now rather than at import, so
    the driver's low-core scaling bench gets proportionally fewer
    state partitions too — a cluster deployment sizes this at 2-3×
    total cores instead."""
    return {
        **RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(max(_graft_cpus(), 8)),
    }


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session."""
    for k, v in _runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # already fixed to the same value, or a no-op conf
    return spark


def get_spark(app_name: str = "replicator-spark") -> SparkSession:
    builder = (
        SparkSession.builder.master(f"local[{_graft_cpus()}]")
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split sizing: 128 MB input splits keep a task's working
        # set well under executor memory at any SF (at 100 TB this is
        # the lever that bounds per-task memory, together with
        # shuffle.partitions ≈ 2-3× total cores)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in _runtime_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prep(spark)


from contextlib import contextmanager as _contextmanager


@_contextmanager
def no_aqe(spark: SparkSession):
    """Disable adaptive query execution around driver-side
    constant-size reduction loops (Lloyd/PQ training rounds, greedy
    top-1 selection loops). Their reduction output is constant-size
    BY DESIGN at any corpus scale, so AQE has nothing to adapt — no
    skew join, no post-shuffle size surprise — while its
    stage-by-stage re-optimization costs a driver round-trip per
    stage per round (measured 1.7-2.4 s/round with AQE vs 0.9-1.1 s
    without on the sf0.1 trainer corpus, identical results). Serving
    plans returned to callers keep AQE."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def fan_out(df, bytes_per_task: int | None = None):
    """Input-skew guard (optimization guide §2.5 "one huge unsplittable
    file ... repartition immediately after the read") for operators
    whose cost is heavy per-row compute before the first exchange.

    One rule: ``repartition(width)`` when fewer scan tasks get rows
    than ``width``, otherwise ``df`` itself. ``width`` is
    ``defaultParallelism``; with ``bytes_per_task`` it is
    ``min(defaultParallelism, ceil(bytes / bytes_per_task))`` over the
    scan's listed files, so a small working set is not spread across
    more tasks than its size pays for. The row-bearing task count comes
    from Spark's own split arithmetic and the parquet footers
    (``_scan_tasks_with_rows``); without a usable listing it is the
    frame's partition count. Only applied where results are
    partition-invariant. Streaming frames come back unchanged.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    files = _input_files(df)
    if files and bytes_per_task:
        total = sum(size for _, size in files)
        width = max(1, min(width, -(-total // bytes_per_task)))
    n = _scan_tasks_with_rows(spark, files) if files else None
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - defensive only
            return df
    return df.repartition(width) if n < width else df


def _input_files(df) -> list | None:
    """(local path, size) of every file behind a scan, from the
    driver-side listing (no job). None when the frame has no file
    provenance or a file is not on the local file system."""
    from urllib.parse import unquote, urlparse

    try:
        uris = df.inputFiles()
    except Exception:  # pragma: no cover - defensive only
        return None
    if not uris:
        return None
    files = []
    for uri in uris:
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return None
        path = unquote(u.path)
        try:
            files.append((path, os.path.getsize(path)))
        except OSError:
            return None
    return files


def _scan_tasks_with_rows(spark: SparkSession, files: list) -> int | None:
    """How many tasks of a parquet scan over ``files`` get rows, worked
    out on the driver with no Spark job.

    Spark cuts each file into ranges of ``maxSplitBytes = min(
    maxPartitionBytes, max(openCostInBytes, (Σsize + n·openCostInBytes)
    / minPartitionNum))``, where ``minPartitionNum`` defaults to the
    session's ``leafNodeDefaultParallelism``, sorts the ranges longest
    first and packs them greedily into tasks (``FilePartition``). The
    parquet reader gives each row group to the one range that holds its
    midpoint, so a one-row-group file has rows in one range however
    many it is cut into. A footer is read only for a file that spans
    more than one range. None when a file is not parquet, or when
    ``spark.sql.files.maxPartitionNum`` is set (Spark then re-packs the
    tasks).
    """
    if any(not path.endswith(".parquet") for path, _ in files):
        return None
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    if conf.filesMaxPartitionNum().isDefined():
        return None
    min_num = conf.filesMinPartitionNum()
    min_num = (
        min_num.get()
        if min_num.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    max_bytes = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    total = sum(size + open_cost for _, size in files)
    split = min(max_bytes, max(open_cost, total // min_num))
    ranges = []  # (length, has_rows)
    for path, size in files:
        if size <= split:
            ranges.append((size, True))
            continue
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        mids = []
        for rg in map(meta.row_group, range(meta.num_row_groups)):
            if not rg.num_rows:
                continue
            first = rg.column(0)
            start = first.data_page_offset
            if first.has_dictionary_page:
                start = min(start, first.dictionary_page_offset)
            length = sum(
                rg.column(c).total_compressed_size
                for c in range(rg.num_columns)
            )
            mids.append(start + length // 2)
        for off in range(0, size, split):
            end = min(off + split, size)
            ranges.append((end - off, any(off <= m < end for m in mids)))
    ranges.sort(key=lambda r: -r[0])  # stable, as Spark's sortBy
    tasks, task_bytes, task_rows = 0, 0, False
    for length, rows in ranges:
        if task_bytes and task_bytes + length > split:
            tasks += task_rows
            task_bytes, task_rows = 0, False
        task_bytes += length + open_cost
        task_rows = task_rows or rows
    return tasks + task_rows


def normalize_events(df):
    """Canonicalize the events ``ts`` column to INT64 epoch-nanos.

    The driver's testdata has shipped ``events.ts`` in two physical
    forms across rounds: INT64(TIMESTAMP_NANOS) (read as plain longs
    via ``nanosAsLong``) and a parquet TIMESTAMP in micros (read as
    TIMESTAMP_NTZ). Every downstream expression works in integer nanos
    (``ts div 1000000`` → ms), so convert the timestamp form back to
    nanos here at the single read choke point. With the session zone
    pinned to UTC, ``unix_micros(cast(ts as timestamp)) * 1000`` is the
    exact inverse of the µs-timestamp encoding; the DuckDB oracles'
    ``epoch_ms(ts)`` / ``epoch_us(ts)`` agree in both engines. This is
    a pure projection over the scan — pushdown/pruning on the other
    columns is unaffected.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype in (None, "bigint", "long"):
        # the driver's historical long encoding is epoch-nanos; keep
        # the contract fixed rather than magnitude-sniffing, so tiny
        # synthetic test values can't be mis-bucketed
        return df

    def _magnitude_ns(v):
        # unit dispatched on magnitude per row — epoch seconds (<1e11,
        # fractional µs/ns preserved), millis (<1e14), micros (<1e17),
        # else nanos. Exact for 1973-2200; decimal×int products stay
        # within precision 38 before the final long cast.
        return (
            F.when(v >= F.lit(10**17), v)
            .when(v >= F.lit(10**14), v * 1000)
            .when(v >= F.lit(10**11), v * 1000000)
            .otherwise(v * 1000000000)
        ).cast("long")

    if dtype.startswith("decimal"):
        # preemptive armor for a DECIMAL ts encoding (the driver has
        # already changed the physical encoding twice)
        ns = _magnitude_ns(F.col("ts"))
    elif dtype.startswith("timestamp") or dtype == "date":
        ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    elif dtype == "string":
        # further preemptive armor: digit strings dispatch by
        # magnitude like DECIMAL; everything else must parse as an
        # ISO timestamp (UTC session zone), and an unparseable value
        # surfaces as NULL ts downstream rather than a unit shift
        v = F.col("ts")
        ns = F.when(
            v.rlike(r"^\d+(\.\d+)?$"),
            _magnitude_ns(v.cast("decimal(38,9)")),
        ).otherwise(F.unix_micros(v.cast("timestamp")) * 1000)
    else:
        raise ValueError(
            f"events.ts arrived as unsupported dtype {dtype!r}; "
            "normalize_events knows long-nanos, timestamp, and decimal "
            "encodings — extend it rather than letting a silent unit "
            "shift through"
        )
    cols = [ns.alias("ts") if c == "ts" else F.col(c) for c in df.columns]
    return df.select(cols)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, stream: bool = False
):
    """The one read of a table, as a batch frame or (``stream``) a
    file-stream frame, for a flat parquet file and a directory of part
    files alike. The stream takes the batch read's schema, so a change
    of physical ``ts`` encoding in the data is read as such rather than
    through a fixed long schema (which reads µs as "nanos"); events
    then go through ``normalize_events`` on both paths."""
    prep(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    if stream:
        # a file-stream source needs a directory: a flat file streams
        # from its parent, filtered to its own name
        reader = spark.readStream.schema(df.schema)
        if os.path.isdir(path):
            df = reader.parquet(path)
        else:
            df = reader.option(
                "pathGlobFilter", os.path.basename(path)
            ).parquet(os.path.dirname(path))
    return normalize_events(df) if name == "events" else df


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the active SparkContext's SparkFiles
    root, for an op's output and checkpoint. Spark makes that root for
    each context and deletes it when the session stops, so a lazy frame
    over the directory reads it until ``spark.stop()`` and nothing of
    it outlives the session."""
    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())
