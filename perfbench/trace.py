"""Tracing for the benchmark's traced run.

Spans live in memory and are written out when the run ends. Each span
tags the Spark jobs it starts with ``setJobGroup(<span id>)``; after the
session stops, Spark's event log is folded into per-span engine counters
(jobs, tasks, executor run and GC time, shuffle, spill, scan and write
bytes). Jobs started on a streaming query's own thread carry the query's
group instead, so they go to the innermost span open when they were
submitted. A ``StreamingQueryListener`` records each trigger's progress.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import glob
import json
import os
import time

COUNTERS = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "input_records", "output_bytes")


class Tracer:
    """Spans follow the active SparkContext, which a relaunch replaces."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._sc().setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                self._sc().setJobGroup(self._open[-1]["id"], self._open[-1]["name"])
            else:
                self._sc().setLocalProperty("spark.jobGroup.id", None)

    def self_s(self, rec: dict) -> float:
        """Span time minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(s["end"] - s["start"] for s in kids)

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)


def span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def fold_event_log(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Span id → engine counters, plus ``task_run_s`` (one entry per
    task) for skew ratios."""
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: {**{c: 0 for c in COUNTERS}, "task_run_s": []} for s in spans}

    def innermost(t: float) -> str | None:
        hits = [s for s in spans if s["start"] <= t <= s.get("end", t)]
        return min(hits, key=lambda s: s["end"] - s["start"])["id"] if hits else None

    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = group if group in by_id else innermost(ev["Submission Time"] / 1000)
                    if sid is None:
                        continue
                    job_span[jid] = sid
                    out[sid]["jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in job_span:
                        continue
                    c = out[job_span[jid]]
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000
                    c["tasks"] += 1
                    c["executor_run_s"] += run_s
                    c["task_run_s"].append(run_s)
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    inp = m.get("Input Metrics") or {}
                    c["input_bytes"] += inp.get("Bytes Read", 0)
                    c["input_records"] += inp.get("Records Read", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def _epoch(ts: str) -> float:
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc).timestamp()


def stream_listener(spark):
    """Register a listener that keeps every trigger's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "start": _epoch(p.timestamp),
                "batch_s": p.batchDuration / 1000,
                "rows": p.numInputRows,
                "duration_s": {k: v / 1000 for k, v in p.durationMs.items()},
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def wait_for(cond, timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    while not cond() and time.monotonic() < deadline:
        time.sleep(0.02)
