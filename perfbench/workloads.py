"""The benchmark's two workloads. Each is a closed loop with one
client: the next operation starts when the previous one has returned.

- ``BacklogReplay``: catch-up after downtime, then reads. Each
  operation replays the whole rotated-binlog backlog into the
  time-machine store (``run_batch`` → ``write_timemachine(...,
  "overwrite")``), then runs ``asof_snapshot(store, cutoff)`` → noop at
  the next seeded cutoffs; passes and reads are timed apart.
- ``IncrementalTail``: scheduled catch-up rounds. Each operation lands
  one more rotated file and drains it with ``run_stream`` (Kafka
  applier) on one checkpoint and output. Its traced run also runs the
  operator slate (slate.py) once, so the ``pipeline/``, ``queries/``,
  stateful ``streaming/`` and vector trainer layers are traced too.

Every workload exposes ``generate`` (the repeatable input set-up),
``warm``, ``check`` (untimed correctness against a path that does not
share the timed code), ``step`` (one timed operation, returning its
latency), ``rows_per_op`` and, for the traced run, ``layers``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

from perfbench import gen, slate
from perfbench.engine import dir_bytes, p50
from perfbench.trace import span, wait_for

CELL_DIGEST_SQL = """
SELECT count(*), sum(hash(
    CAST(event_id AS BIGINT), CAST(table_name AS VARCHAR), rowkey,
    column_name, cell_value, CAST(version_us AS BIGINT), txn_uuid,
    CAST(txn_xid AS BIGINT))::HUGEINT)
FROM {src}
"""
ENGINE = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
          "spill_bytes")
LADDER_REPS = 2


def store_scan(store: str) -> str:
    return f"read_parquet('{store}/*/*.parquet', hive_partitioning = true)"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Checks:
    """Correctness accounting: every timed operation and every check
    counts as attempted; a failure or mismatch counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(1, what)

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        self.notes.append(what)


def ladder(spark, tracer, prefixes, reps: int = LADDER_REPS) -> list[dict]:
    """Time each prefix of a runner chain ``reps`` times, interleaved.
    A layer's self time is its prefix's median minus the median of the
    prefix it extends; it is marked unresolved when that difference is
    not larger than the spread (max - min) of either prefix."""
    spans = {name: [] for name, _ in prefixes}
    for _ in range(reps):
        for name, action in prefixes:
            with tracer.span(f"ladder.{name}") as rec:
                action()
            spans[name].append(rec)
    out, inner = [], None
    for name, _ in prefixes:
        times = [r["end"] - r["start"] for r in spans[name]]
        row = {"layer": name, "spans": spans[name], "median_s": p50(times),
               "spread_s": max(times) - min(times)}
        if inner is None:
            row["self_s"] = row["median_s"]
            row["resolved"] = True
        else:
            row["self_s"] = row["median_s"] - inner["median_s"]
            row["resolved"] = row["self_s"] > max(row["spread_s"], inner["spread_s"])
        row["inner"] = inner
        out.append(row)
        inner = row
    return out


def ladder_metrics(rows: list[dict], counters: dict[str, dict]) -> dict[str, float]:
    """``<layer>.self_s`` and self engine counters (this prefix's median
    counter minus the inner prefix's) for every ladder row."""
    out = {}

    def med(row, key):
        return statistics.median(counters[r["id"]][key] for r in row["spans"])

    for row in rows:
        name = row["layer"]
        out[f"{name}.self_s"] = row["self_s"]
        for key in ENGINE:
            inner = med(row["inner"], key) if row["inner"] else 0
            out[f"{name}.{key}"] = med(row, key) - inner
    return out


def decode_skew(row: dict, counters: dict[str, dict]) -> float:
    ratios = []
    for r in row["spans"]:
        runs = counters[r["id"]]["task_run_s"]
        if runs and statistics.median(runs) > 0:
            ratios.append(max(runs) / statistics.median(runs))
    return p50(ratios) if ratios else 0.0


class BacklogReplay:
    """Each operation replays the backlog into the store, then reads
    the store back as of the next ``READS_PER_PASS`` seeded cutoffs.
    Passes and reads are timed apart, so a store-layout change that
    helps one side and costs the other shows up in this one workload."""

    name = "backlog_replay"
    N_BASE = 10_000  # rows per replica copy
    COPIES = 4
    N_FILES = 16
    SCALES = {"1x": 1, "10x": 10}  # replica copies for the scale ladder
    WARM_PASSES = 2
    READS_PER_PASS = 3
    N_CUTOFFS = 63  # a multiple of READS_PER_PASS

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.store = os.path.join(work, "store")
        self.con = duckdb.connect()
        self.read_s: list[float] = []
        self.n_reads = 0

    def cfg(self, logs: str) -> dict:
        return {"source.type": "binlog_files", "source.binlog.path": logs,
                "applier.type": "timemachine"}

    def write_logs(self, copies: int, files: int, tag: str):
        rows = gen.change_rows(self.seed, self.N_BASE, copies)
        d = os.path.join(self.work, tag)
        shutil.rmtree(d, ignore_errors=True)
        gen.write_binlog_files(rows, gen.file_bounds(self.seed, len(rows), files),
                               os.path.join(d, "binlog"))
        return rows, os.path.join(d, "binlog")

    def generate(self, spark, rep: int) -> None:
        self.rows, self.logs = self.write_logs(self.COPIES, self.N_FILES, f"gen{rep}")

    @property
    def rows_per_op(self) -> int:
        return self.rows.num_rows

    def replay(self, spark, logs: str) -> None:
        from replicator_spark.runner import run_batch
        from replicator_spark.sinks.timemachine import write_timemachine

        write_timemachine(run_batch(spark, logs, self.cfg(logs)), self.store, "overwrite")

    def read(self, spark, cutoff: int):
        from replicator_spark.sinks.timemachine import asof_snapshot

        return asof_snapshot(spark.read.parquet(self.store), cutoff)

    def reads(self, spark, tracer) -> list[float]:
        out = []
        for _ in range(self.READS_PER_PASS):
            cutoff = self.cutoffs[self.n_reads % len(self.cutoffs)]
            self.n_reads += 1
            t0 = time.perf_counter()
            with span(tracer, "asof.read") as rec:
                noop(self.read(spark, cutoff))
            out.append(time.perf_counter() - t0)
            if tracer is not None:
                rec["cutoff"] = cutoff
        return out

    def digest(self):
        return self.con.execute(CELL_DIGEST_SQL.format(src=store_scan(self.store))).fetchone()

    def warm(self, spark) -> None:
        self.replay(spark, self.logs)
        lo, hi = self.con.execute(
            f"SELECT min(version_us), max(version_us) FROM {store_scan(self.store)}").fetchone()
        self.cutoffs = gen.cutoffs(self.seed, lo, hi, self.N_CUTOFFS, self.READS_PER_PASS)
        for _ in range(self.WARM_PASSES - 1):
            self.replay(spark, self.logs)
        self.reads(spark, None)
        self.ref = self.digest()
        self.inputs = {"events": self.rows.num_rows, "files": self.N_FILES,
                       "bytes": dir_bytes(self.logs), "cells": self.ref[0],
                       "store_bytes": dir_bytes(self.store)}

    def check(self, spark, checks: Checks) -> None:
        from replicator_spark.sinks.timemachine import (
            ASOF_SNAPSHOT_SQL, SNAPSHOT_CUTOFF_US, TIMEMACHINE_CELLS_SQL)
        from replicator_spark.sources.binlog import read_binlog_files

        cols = gen.ROWS_SCHEMA.names
        got = read_binlog_files(spark, self.logs).select(*cols).toArrow().sort_by("event_id")
        exp = self.rows.sort_by("event_id")
        ok = got.num_rows == exp.num_rows and all(
            got.column(c).cast(exp.schema.field(c).type).equals(exp.column(c)) for c in cols)
        checks.record(ok, "decoded rows differ from the generated rows")
        self.con.register("events", gen.events_table(self.rows))
        oracle = self.con.execute(
            CELL_DIGEST_SQL.format(src=f"({TIMEMACHINE_CELLS_SQL}) AS cells")).fetchone()
        checks.record(oracle == self.ref, "set-up pass cells differ from the DuckDB oracle")
        # the oracle's as-of shape, over the persisted store instead of
        # the cells it derives from the events table
        cutoff = self.cutoffs[-1]
        tail = ASOF_SNAPSHOT_SQL[len("WITH cells AS (" + TIMEMACHINE_CELLS_SQL):]
        sql = (f"WITH cells AS (SELECT * FROM {store_scan(self.store)}"
               + tail.replace(str(SNAPSHOT_CUTOFF_US), str(cutoff)))
        exp = sorted(self.con.execute(sql).fetchall(), key=repr)
        got = sorted((tuple(r) for r in self.read(spark, cutoff).collect()), key=repr)
        checks.record(got == exp, f"as-of {cutoff} differs from DuckDB")

    def step(self, spark, i: int, tracer, checks: Checks) -> float:
        t0 = time.perf_counter()
        with span(tracer, "replay.pass"):
            self.replay(spark, self.logs)
        dt = time.perf_counter() - t0
        self.read_s += self.reads(spark, tracer)
        checks.record(self.digest() == self.ref, f"pass {i} cell digest changed")
        return dt

    def layers(self, spark, tracer, relaunch, checks: Checks) -> tuple:
        """The reads' spans, the prefix ladder over the backlog, one
        replay to noop at each scale, then one backlog pass at local[1]."""
        from replicator_spark.cdc.envelope import change_feed_from
        from replicator_spark.cdc.transactions import organized_feed_from
        from replicator_spark.runner import build_feed, run_batch
        from replicator_spark.sources.binlog import envelope_projection, read_binlog_files

        reads = [s for s in tracer.spans if s["name"] == "asof.read" and not s["parent"]]
        useful = dict(self.con.execute(
            "SELECT c, count(v) FROM (SELECT unnest(?::BIGINT[]) AS c) "
            f"LEFT JOIN (SELECT version_us AS v FROM {store_scan(self.store)}) ON v <= c "
            "GROUP BY c", [[r["cutoff"] for r in reads]]).fetchall())
        logs, cfg = self.logs, self.cfg(self.logs)
        prefixes = [
            ("binlog", lambda: noop(read_binlog_files(spark, logs))),
            ("envelope", lambda: noop(change_feed_from(
                envelope_projection(read_binlog_files(spark, logs)), op_col="op"))),
            ("augment", lambda: noop(build_feed(spark, logs, cfg))),
            ("organize", lambda: noop(organized_feed_from(build_feed(spark, logs, cfg)))),
            ("cells", lambda: noop(run_batch(spark, logs, cfg))),
            ("cells_write", lambda: self.replay(spark, logs)),
        ]
        rows = ladder(spark, tracer, prefixes)
        n = self.rows_per_op
        n_cells = self.ref[0]
        chain_s = rows[-1]["median_s"]

        scale = {}
        for label, copies in self.SCALES.items():
            big_rows, big_logs = self.write_logs(copies, self.N_FILES * copies // self.COPIES,
                                                 f"scale{label}")
            with tracer.span(f"ladder.{label}") as rec:
                noop(run_batch(spark, big_logs, self.cfg(big_logs)))
            scale[label] = big_rows.num_rows / (rec["end"] - rec["start"])
            shutil.rmtree(os.path.dirname(big_logs), ignore_errors=True)

        spark = relaunch(1)  # same JVM, so its JIT stays warm
        with tracer.span("replay.1core") as one:
            self.replay(spark, logs)
        checks.record(self.digest() == self.ref, "single-core pass cell digest changed")

        def finish(counters):
            m = ladder_metrics(rows[:5], counters)
            by = {r["layer"]: r for r in rows}
            m["binlog.decode_s"] = m.pop("binlog.self_s")
            m["binlog.decode_events_per_s"] = n / by["binlog"]["median_s"]
            m["binlog.decode_task_max_over_median"] = decode_skew(by["binlog"], counters)
            m["cells.write_s"] = by["cells_write"]["self_s"]
            m["cells.per_event"] = n_cells / n
            m["cells.bytes_written"] = statistics.median(
                counters[r["id"]]["output_bytes"] for r in by["cells_write"]["spans"])
            for label, eps in scale.items():
                m[f"ladder.events_per_s.{label}"] = eps
            m["replay.speedup_vs_1core"] = (one["end"] - one["start"]) / chain_s
            m["asof.exec_s"] = p50([r["end"] - r["start"] for r in reads])
            m["asof.scan_bytes"] = p50([counters[r["id"]]["input_bytes"] for r in reads])
            m["asof.useful_cell_frac"] = p50([
                useful[r["cutoff"]] / max(1, counters[r["id"]]["input_records"])
                for r in reads])
            for key in ENGINE:
                m[f"asof.{key}"] = p50([counters[r["id"]][key] for r in reads])
            return m

        notes = [{k: v for k, v in r.items() if k not in ("spans", "inner")} for r in rows]
        return spark, finish, {"ladder": notes, "scale_events_per_s": scale}


class IncrementalTail:
    name = "incremental_tail"
    EVENTS_PER_FILE = 5_000
    N_FILES = 16  # rounds available: warm-up, timed, and the one-file ladder
    WARM_ROUNDS = 3

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.con = duckdb.connect()
        self.listener = None

    def generate(self, spark, rep: int) -> None:
        rows = gen.change_rows(self.seed, self.EVENTS_PER_FILE * self.N_FILES // 4, 4)
        bounds = gen.file_bounds(self.seed, rows.num_rows, self.N_FILES)
        d = os.path.join(self.work, f"gen{rep}")
        shutil.rmtree(d, ignore_errors=True)
        self.files = gen.write_binlog_files(rows, bounds, os.path.join(d, "staged"))
        self.staged = os.path.join(d, "staged")
        self.tailed = os.path.join(d, "tailed")
        self.out = os.path.join(d, "out")
        self.ckpt = os.path.join(d, "ckpt")
        os.makedirs(self.tailed)
        self.file_rows = {f: rows.slice(bounds[i], bounds[i + 1] - bounds[i])
                          for i, f in enumerate(self.files)}
        self.landed: list[str] = []
        self.inputs = {"events": rows.num_rows, "files": self.N_FILES,
                       "bytes": dir_bytes(self.staged), "warm_rounds": self.WARM_ROUNDS}

    @property
    def rows_per_op(self) -> int:
        return self.rows_landed // max(1, len(self.landed))

    @property
    def rows_landed(self) -> int:
        return sum(self.file_rows[f].num_rows for f in self.landed)

    def round(self, spark) -> None:
        from replicator_spark.runner import run_stream

        run_stream(spark, None, {"source.type": "binlog_files",
                                 "source.binlog.path": self.tailed,
                                 "applier.type": "kafka"}, self.out, self.ckpt)

    def land(self) -> None:
        f = self.files[len(self.landed)]
        os.rename(os.path.join(self.staged, f), os.path.join(self.tailed, f))
        self.landed.append(f)

    def warm(self, spark) -> None:
        for _ in range(self.WARM_ROUNDS):
            self.land()
            self.round(spark)

    def check(self, spark, checks: Checks) -> None:
        pass  # exactly-once is checked by final_check, once every round has run

    def final_check(self, checks: Checks) -> None:
        import pyarrow as pa

        exp = pa.concat_tables(
            [self.file_rows[f].select(["event_id"]).append_column(
                "round", pa.array([i] * self.file_rows[f].num_rows, pa.int64()))
             for i, f in enumerate(self.landed)])
        self.con.register("expected", exp)
        got = f"read_parquet('{self.out}/*/*.parquet', hive_partitioning = true)"
        bad = self.con.execute(f"""
            WITH got AS (SELECT event_id, count(*) AS n FROM {got} GROUP BY 1)
            SELECT DISTINCT e.round FROM expected e LEFT JOIN got g USING (event_id)
            WHERE g.n IS DISTINCT FROM 1""").fetchall()
        extra = self.con.execute(f"""
            SELECT count(*) FROM {got} WHERE event_id NOT IN (SELECT event_id FROM expected)
            """).fetchone()[0]
        checks.attempted += len(self.landed)
        if bad:
            checks.fail(len(bad), f"rounds {sorted(r for (r,) in bad)} not delivered exactly once")
        checks.record(extra == 0, f"{extra} delivered events were never landed")

    def step(self, spark, i: int, tracer, checks: Checks) -> float:
        self.land()
        ended = self.listener.terminated if self.listener else 0
        t0 = time.perf_counter()
        with span(tracer, "stream.round"):
            self.round(spark)
        dt = time.perf_counter() - t0
        if self.listener:  # progress events arrive asynchronously
            wait_for(lambda: self.listener.terminated > ended)
        return dt

    def remaining(self) -> int:
        return len(self.files) - len(self.landed) - 1  # keep one for the ladder

    def layers(self, spark, tracer, relaunch, checks: Checks) -> tuple:
        """A one-file batch ladder (decode → envelope → augment → Kafka)
        over the next unlanded file, the listener's per-trigger phases
        of the traced rounds, then one slate pass: each op traced and
        checked against its oracle. It is the slate's first call in
        this session, so its times include each op's own cold start."""
        from replicator_spark.cdc.envelope import change_feed_from
        from replicator_spark.runner import apply_sink, build_feed
        from replicator_spark.sources.binlog import envelope_projection, read_binlog_files

        one = os.path.join(self.work, "one")
        os.makedirs(one, exist_ok=True)
        f = self.files[len(self.landed)]
        shutil.copy(os.path.join(self.staged, f), os.path.join(one, f))
        cfg = {"source.type": "binlog_files", "source.binlog.path": one,
               "applier.type": "kafka"}
        prefixes = [
            ("binlog", lambda: noop(read_binlog_files(spark, one))),
            ("envelope", lambda: noop(change_feed_from(
                envelope_projection(read_binlog_files(spark, one)), op_col="op"))),
            ("augment", lambda: noop(build_feed(spark, one, cfg))),
            ("kafka", lambda: noop(apply_sink(build_feed(spark, one, cfg), cfg))),
        ]
        rows = ladder(spark, tracer, prefixes)
        n_file = self.file_rows[f].num_rows
        rounds = [s for s in tracer.spans if s["name"] == "stream.round" and not s["parent"]]
        progress = self.listener.progress if self.listener else []
        ckpt_bytes = dir_bytes(self.ckpt)
        sf_dir = os.path.join(self.work, "slate")
        slate.write_tables(self.seed, sf_dir)
        ops = slate.run_pass(spark, sf_dir, tracer, slate.oracle_check(sf_dir, checks))
        op_spans = [s for s in tracer.spans if s["name"].startswith("op.")]

        def finish(counters):
            m = ladder_metrics(rows, counters)
            m.update({f"op.{name}.{phase}_s": t for name, pair in ops.items()
                      for phase, t in zip(("build", "exec"), pair)})
            m["slate.pass_s"] = sum(map(sum, ops.values()))
            for key in ENGINE:
                m[f"slate.{key}"] = sum(counters[s["id"]][key] for s in op_spans)
            by = {r["layer"]: r for r in rows}
            m["binlog.decode_s"] = m.pop("binlog.self_s")
            m["binlog.decode_events_per_s"] = n_file / by["binlog"]["median_s"]
            m["binlog.decode_task_max_over_median"] = decode_skew(by["binlog"], counters)
            m.update(stream_metrics(rounds, progress, counters))
            m["stream.checkpoint_bytes"] = ckpt_bytes
            return m

        notes = [{k: v for k, v in r.items() if k not in ("spans", "inner")} for r in rows]
        return spark, finish, {"ladder": notes, "progress": progress, "slate": ops}


STREAM_PHASES = {
    "latestOffset": "stream.latest_offset_s",
    "getBatch": "stream.get_batch_s",
    "queryPlanning": "stream.query_planning_s",
    "addBatch": "stream.add_batch_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
}


def stream_metrics(rounds: list[dict], progress: list[dict],
                   counters: dict[str, dict]) -> dict[str, float]:
    """Per round: the summed phase durations of its triggers, the wait
    from the call to its first trigger (start) and from its last
    trigger's end to the call's return (stop); medians over rounds."""
    per_round = []
    for r in rounds:
        trig = [p for p in progress if r["start"] <= p["start"] <= r["end"]]
        row = {m: sum(p["duration_s"].get(k, 0.0) for p in trig)
               for k, m in STREAM_PHASES.items()}
        row["stream.triggers_per_round"] = len(trig)
        row["empty"] = sum(1 for p in trig if p["rows"] == 0)
        if trig:
            row["stream.start_s"] = min(p["start"] for p in trig) - r["start"]
            row["stream.stop_s"] = r["end"] - max(p["start"] + p["batch_s"] for p in trig)
        per_round.append(row)
    out = {}
    for key in [*STREAM_PHASES.values(), "stream.triggers_per_round",
                "stream.start_s", "stream.stop_s"]:
        vals = [row[key] for row in per_round if key in row]
        out[key] = p50(vals) if vals else 0.0
    n_trig = sum(row["stream.triggers_per_round"] for row in per_round)
    out["stream.empty_trigger_frac"] = (
        sum(row["empty"] for row in per_round) / n_trig if n_trig else 0.0)
    for key in ENGINE:
        out[f"stream.{key}"] = p50([counters[r["id"]][key] for r in rounds]) if rounds else 0
    return out


WORKLOADS = {w.name: w for w in (BacklogReplay, IncrementalTail)}
