"""Print the runner's physical plans, with what it costs the driver to
build each one: the py4j round trips to the JVM and the build seconds.

Configs covered:
- ``run_batch`` for the benchmark's backlog-replay config (binlog files
  → time-machine cells), plus its two startup checkpoint variants
  (file/pos and GTID set);
- ``run_batch`` with the Kafka applier;
- the incremental-tail micro-batch plan: ``_augment`` + ``apply_sink``
  (Kafka) over one batch of decoded rows, the plan ``run_stream``'s
  ``foreachBatch`` builds again on every epoch.

Expression ids, plan ids and file paths are normalized so two
checkouts' plan dumps diff cleanly.

    python tools/runner_plan.py > plan.txt

Run it in two checkouts and ``diff`` the outputs. ``jvm_calls`` counts
the driver thread's py4j commands while the plan is built, and
``build_s`` is the median of ``BUILD_REPS`` builds; both come after
one cold build of every config.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUILD_REPS = 5


def _normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"file:[^\],]*", "file:...", plan)


class _Py4jCalls:
    """Counts the commands this thread sends through py4j."""

    def __init__(self):
        from py4j.java_gateway import GatewayClient

        self.n = 0
        self._cls = GatewayClient
        self._orig = GatewayClient.send_command
        owner = threading.get_ident()
        counter = self

        def send_command(client, *args, **kwargs):
            if threading.get_ident() == owner:
                counter.n += 1
            return counter._orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


def _measure(calls: _Py4jCalls, build):
    """Build ``BUILD_REPS`` times, counted and timed; returns the last
    DataFrame, its round trips and the median seconds."""
    times, counts = [], []
    for _ in range(BUILD_REPS):
        n0, t0 = calls.n, time.perf_counter()
        df = build()
        times.append(time.perf_counter() - t0)
        counts.append(calls.n - n0)
    return df, statistics.median(counts), statistics.median(times)


def main() -> None:
    from perfbench import gen
    from replicator_spark.runner import (
        DEFAULT_CONFIG, _augment, _rows, apply_sink, run_batch)
    from replicator_spark.session import get_spark
    from replicator_spark.sources.binlog import _SID_UUID

    with tempfile.TemporaryDirectory() as work:
        logs = os.path.join(work, "binlog")
        rows = gen.change_rows(1, 2000, 1)
        gen.write_binlog_files(rows, gen.file_bounds(1, rows.num_rows, 4), logs)
        spark = get_spark("runner-plan")
        base = {"source.type": "binlog_files", "source.binlog.path": logs,
                "applier.type": "timemachine"}
        kafka = {**base, "applier.type": "kafka"}
        kafka_cfg = {**DEFAULT_CONFIG, **kafka}
        batch = _rows(spark, logs, kafka_cfg, stream=False)
        builds = {
            "backlog": lambda: run_batch(spark, logs, base),
            "filepos": lambda: run_batch(spark, logs, {
                **base, "source.binlog.checkpoint.file": "binlog.000001",
                "source.binlog.checkpoint.pos": 4}),
            "gtid": lambda: run_batch(spark, logs, {
                **base, "source.binlog.checkpoint.gtid_set": f"{_SID_UUID}:1-5"}),
            "kafka": lambda: run_batch(spark, logs, kafka),
            "kafka_micro_batch": lambda: apply_sink(
                _augment(batch, kafka_cfg), kafka_cfg),
        }
        for build in builds.values():  # cold builds: class loading, JIT
            build()
        calls = _Py4jCalls()
        try:
            for name, build in builds.items():
                df, n_calls, build_s = _measure(calls, build)
                print(f"=== {name}: rows={df.count()} jvm_calls={n_calls} "
                      f"build_s={build_s:.3f}")
                print(_normalize(df._jdf.queryExecution().executedPlan().toString()))
        finally:
            calls.close()
        spark.stop()


if __name__ == "__main__":
    main()
