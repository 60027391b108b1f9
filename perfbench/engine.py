"""Spark session launch and teardown, peak-RSS sampling and the small
statistics the benchmark reports.

The session carries ``replicator_spark.session.get_spark``'s settings at
a fixed core count, with every scratch path inside the run's work
directory. Spark's Python workers inherit ``PYTHONPATH`` from the
launching process, which ``run.py`` points at the checkout root.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

CORES = 4


def launch(work: str, cores: int = CORES, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    from replicator_spark.session import RUNTIME_CONFS, prep

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config("spark.sql.files.maxPartitionBytes", str(128 << 20))
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (builder.config("spark.eventLog.dir", f"file://{event_log_dir}")
                   .config("spark.eventLog.compress", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return prep(spark)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss pages) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), int(fields[21]))
    return out


def process_tree(root: int) -> dict[int, int]:
    """pid → rss pages for ``root`` and all its descendants."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled from /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(process_tree(self.root).values()) * self._page
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / (1 << 20)


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the gateway JVM and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = set(process_tree(jvm_pid(spark)))
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def timed_loop(seconds: float, step, min_samples: int = 3,
               more=lambda: True) -> list[float]:
    """Call ``step(i)`` until ``seconds`` have passed and at least
    ``min_samples`` were taken, or ``more()`` turns false; each call
    returns its own latency."""
    out: list[float] = []
    deadline = time.perf_counter() + seconds
    while more() and (len(out) < min_samples or time.perf_counter() < deadline):
        out.append(step(len(out)))
    return out


def p50(values) -> float:
    return float(statistics.median(values))


def p80(values) -> float:
    return float(statistics.quantiles(values, n=5, method="inclusive")[3])


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
