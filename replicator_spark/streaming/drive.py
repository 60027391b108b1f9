"""The one Structured Streaming drive: every streaming op and
`runner.run_stream` run their query to the end of the available input
(an availableNow trigger) through `_drain`, into one of two sinks.

- `epoch_sink`: foreachBatch writes each epoch's rows to
  `out/epoch=<id>` with overwrite. foreachBatch is at-least-once, so a
  retried epoch (or a re-run on a fresh checkpoint) replaces its own
  directory instead of appending duplicates; with the replayable
  source and the checkpoint's offset log this is the end-to-end
  exactly-once argument of Structured Streaming (SIGMOD 2018), and of
  the reference's idempotent Put (HBaseApplier.java:166-196).
- `file_sink`: an append-mode file sink in a fresh directory under the
  session scratch root (`session.scratch_dir`), for the ops that serve
  their emitted rows; it returns them read back with the stream's
  schema. The directory lasts until `spark.stop()`.

Reference analog: every destination goes through one
`destinationStream` (Replicator.java:164-168).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..session import scratch_dir


def _drain(writer: DataStreamWriter, ckpt: str) -> list:
    """Start `writer` on checkpoint `ckpt`, run it until the input
    available at start is consumed, and return the query's progress
    records (one per trigger)."""
    q = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def epoch_sink(
    stream: DataFrame,
    out: str,
    ckpt: str,
    rows_for_epoch: Callable[[DataFrame, int], DataFrame],
    mode: str = "append",
) -> list:
    """Drain `stream`, writing `rows_for_epoch(batch_df, epoch_id)` to
    `out/epoch=<epoch_id>` with overwrite; returns the progress
    records."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        rows_for_epoch(batch_df, epoch_id).write.mode("overwrite").parquet(
            os.path.join(out, f"epoch={epoch_id}")
        )

    return _drain(
        stream.writeStream.outputMode(mode).foreachBatch(write_epoch), ckpt
    )


def file_sink(
    stream: DataFrame, prefix: str, fmt: str = "parquet"
) -> DataFrame:
    """Drain `stream` into an append-mode `fmt` file sink under a fresh
    `scratch_dir(prefix)` (output and checkpoint side by side, so no
    stale seen-files log survives into the next call); returns the
    drained rows, read back with the stream's schema, so a stream that
    emitted nothing reads back as an empty frame rather than failing
    schema inference. Spark removes the directory with the session at
    `spark.stop()`."""
    base = scratch_dir(prefix)
    out = os.path.join(base, "out")
    _drain(
        stream.writeStream.outputMode("append").format(fmt).option(
            "path", out
        ),
        os.path.join(base, "ckpt"),
    )
    return stream.sparkSession.read.schema(stream.schema).format(fmt).load(out)
