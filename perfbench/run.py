"""Replicator benchmark: one seeded workload per run, on local[4].

    python3 perfbench/run.py --workload backlog_replay --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads: backlog_replay and
incremental_tail (see workloads.py). The run generates its inputs from
the seed, sets up, warms up, checks correctness untimed, then runs its
closed loop for ``--seconds``.

End-to-end metrics (untraced run); percentiles are
``statistics.quantiles``, inclusive:

- ``setup_s``: session start, median of three input generations, warm-up.
- ``replay_events_per_s``: input events of one operation over its
  median latency: the backlog's binlog events per pass, one landed
  file's events per round.
- ``round_latency_p50_s`` / ``round_latency_p80_s``: latency of the
  loop's operation, a replay pass or a tail round.
- ``read_latency_p50_s`` / ``read_latency_p80_s``: latency of the
  as-of reads after each replay pass. ``incremental_tail`` does no
  reads; every workload must report every metric, so there they repeat
  its round latency.

The line before the result reads ``failed_frac=<failed/attempted>``;
``attempted`` counts timed operations and correctness checks.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run times half its
loop untraced and half traced (event log, job groups, spans) for
``trace.overhead_frac``, then runs the workload's layer probes; layers a
workload never calls read 0. ``incremental_tail`` also runs the
operator slate (slate.py). Spans go to ``.perfbench_out/``.

Exit codes: 0 when every check passed, 1 when one failed, 2 when the
checkout has no ``replicator_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path[0:1] = [ROOT]  # import perfbench as a package, as workers do
from perfbench.slate import OPS  # noqa: E402

SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "replay_events_per_s": "events/s",
    "round_latency_p50_s": "s",
    "round_latency_p80_s": "s",
    "read_latency_p50_s": "s",
    "read_latency_p80_s": "s",
}

_ENGINE = {"jobs": "count", "tasks": "count", "executor_run_s": "s", "gc_s": "s",
           "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
PER_LAYER = {
    "binlog.decode_s": "s",
    "binlog.decode_events_per_s": "events/s",
    "binlog.decode_task_max_over_median": "ratio",
    **{f"binlog.{k}": u for k, u in _ENGINE.items()},
    "envelope.self_s": "s",
    **{f"envelope.{k}": u for k, u in _ENGINE.items()},
    "augment.self_s": "s",
    **{f"augment.{k}": u for k, u in _ENGINE.items()},
    "organize.self_s": "s",
    **{f"organize.{k}": u for k, u in _ENGINE.items()},
    "cells.self_s": "s",
    "cells.write_s": "s",
    "cells.per_event": "cells/event",
    "cells.bytes_written": "bytes",
    **{f"cells.{k}": u for k, u in _ENGINE.items()},
    "asof.exec_s": "s",
    "asof.scan_bytes": "bytes",
    "asof.useful_cell_frac": "frac",
    **{f"asof.{k}": u for k, u in _ENGINE.items()},
    "kafka.self_s": "s",
    **{f"kafka.{k}": u for k, u in _ENGINE.items()},
    "stream.start_s": "s",
    "stream.latest_offset_s": "s",
    "stream.get_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.stop_s": "s",
    "stream.triggers_per_round": "count",
    "stream.empty_trigger_frac": "frac",
    "stream.checkpoint_bytes": "bytes",
    **{f"stream.{k}": u for k, u in _ENGINE.items()},
    "ladder.events_per_s.1x": "events/s",
    "ladder.events_per_s.10x": "events/s",
    "replay.speedup_vs_1core": "ratio",
    **{f"op.{name}.{phase}_s": "s" for name in OPS for phase in ("build", "exec")},
    "slate.pass_s": "s",
    **{f"slate.{k}": u for k, u in _ENGINE.items()},
    "rss.peak_mb": "MB",
    "trace.overhead_frac": "frac",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Before pyspark starts: workers import replicator_spark from the
    checkout, and scratch files stay inside the work directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (launcher and driver): temp files in the work directory,
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    import tempfile

    tempfile.tempdir = None


def untraced(w, args, checks, work):
    from perfbench.engine import launch, p50, p80, shutdown, timed_loop

    t0 = time.perf_counter()
    spark = launch(work)
    session_s = time.perf_counter() - t0
    gen_s = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        w.generate(spark, rep)
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.warm(spark)
    warm_s = time.perf_counter() - t
    t = time.perf_counter()
    w.check(spark, checks)
    log(f"session {session_s:.2f}s, generate {[round(x, 2) for x in gen_s]}s,"
        f" warm {warm_s:.2f}s, check {time.perf_counter() - t:.2f}s")
    lat = timed_loop(args.seconds, lambda i: w.step(spark, i, None, checks),
                     more=getattr(w, "remaining", lambda: 1))
    if hasattr(w, "final_check"):
        w.final_check(checks)
    shutdown(spark)
    reads = getattr(w, "read_s", None) or lat
    log(f"{w.name}: {len(lat)} ops, latencies {[round(x, 3) for x in lat]},"
        f" reads {[round(x, 3) for x in reads]}")
    return {
        "setup_s": session_s + p50(gen_s) + warm_s,
        "replay_events_per_s": w.rows_per_op / p50(lat),
        "round_latency_p50_s": p50(lat),
        "round_latency_p80_s": p80(lat),
        "read_latency_p50_s": p50(reads),
        "read_latency_p80_s": p80(reads),
    }


def traced(w, args, checks, work):
    from perfbench import trace
    from perfbench.engine import RssSampler, jvm_pid, launch, p50, shutdown, timed_loop

    spark = launch(work)
    w.generate(spark, 0)
    w.warm(spark)
    w.check(spark, checks)
    more = getattr(w, "remaining", lambda: 1)
    plain = timed_loop(args.seconds / 2, lambda i: w.step(spark, i, None, checks),
                       min_samples=1, more=more)

    event_log = os.path.join(work, "eventlog")

    def relaunch(cores):
        spark.stop()
        return launch(work, cores, event_log)

    spark = relaunch(4)
    sampler = RssSampler(jvm_pid(spark))
    tracer = trace.Tracer()
    if w.name == "incremental_tail":
        w.listener = trace.stream_listener(spark)
    with tracer.span("warm"):
        w.step(spark, len(plain), tracer, checks)
    offset = len(plain) + 1
    with_trace = timed_loop(args.seconds / 2,
                            lambda i: w.step(spark, offset + i, tracer, checks),
                            min_samples=1, more=more)
    spark, finish, extra = w.layers(spark, tracer, relaunch, checks)
    if hasattr(w, "final_check"):
        w.final_check(checks)
    peak_mb = sampler.stop()
    spark.stop()
    counters = trace.fold_event_log(event_log, tracer.spans)
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update(finish(counters))
    metrics["rss.peak_mb"] = peak_mb
    metrics["trace.overhead_frac"] = p50(with_trace) / p50(plain) - 1
    for s in tracer.spans:
        s["self_s"] = tracer.self_s(s)
        s["counters"] = {k: v for k, v in counters[s["id"]].items() if k != "task_run_s"}
    out = os.path.join(ROOT, ".perfbench_out", f"spans-{w.name}-seed{args.seed}.json")
    tracer.write(out, {"workload": w.name, "seed": args.seed, "untraced_s": plain,
                       "traced_s": with_trace, **extra})
    log(f"spans written to {out}")
    shutdown(spark)
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "replicator_spark")):
        log("run from the root of a checkout: no replicator_spark package here")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from perfbench.workloads import WORKLOADS, Checks

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload](args.seed, work)
    checks = Checks()
    try:
        values = (traced if args.trace else untraced)(w, args, checks, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    correct = checks.failed == 0
    for note in checks.notes:
        log(f"CHECK FAILED: {note}")
    print(f"inputs={json.dumps(w.inputs)}")
    print(f"failed_frac={checks.failed / max(1, checks.attempted)}"
          f" ({checks.failed} failed of {checks.attempted} attempted)")
    print(json.dumps({
        "correct": correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
