"""Streaming near-duplicate admission — stateful MinHash-LSH dedup of
a document stream.

The batch dedup family (pipeline/dedup.py) identifies near-dup PAIRS
after the fact; a live ingestion pipeline instead wants an ADMISSION
GATE: as documents arrive, drop any document that collides (shares an
LSH band bucket) with an earlier-admitted arrival. This is the
streaming analog of the reference's in-flight dedup spirit (its
applier collapses repeated row images before flushing,
HBaseApplier.java:166-196) re-expressed for text near-dups.

Semantics (deterministic from the data, not the batching): arrival
order is doc_id order (the stream's monotonic key — binlog position in
the reference, crawl sequence in an ingest pipeline); a document is
KEPT iff in EVERY band it is the earliest (minimum doc_id) occupant of
its bucket seen so far. One earlier collision in ANY band ⇒ near-dup ⇒
dropped. That rule makes the verdict a pure function of the dataset —
the property the multibatch tests pin.

Spark-first shape:
- signature + banding run NARROW on the stream (the same zero-exchange
  minhash_signatures as batch — streaming-compatible by construction);
- the only stateful op is applyInPandasWithState keyed by
  (band, shard) where shard = xxhash64(bucket) mod N_SHARDS, holding a
  per-shard map bucket → min doc_id ever. Keying by raw (band, bucket)
  is semantically identical but calls the Python handler once per
  bucket — tens of thousands of mostly-1-row groups per micro-batch,
  so per-CALL overhead (Arrow framing + pandas construction per group)
  WAS the operator's cost (guide §4: amortize the Python boundary over
  large batches). Hash-sharding the buckets keeps per-bucket admission
  logic exactly as before (a bucket maps to exactly one shard) while
  cutting handler calls to N_BANDS × N_SHARDS per micro-batch. At
  100 TB the state store holds the same |buckets| longs, just grouped
  into shard-keyed maps; N_SHARDS bounds the stateful stage's
  parallelism, so a cluster deployment sizes it ≥ total cores AND pins
  it for the lifetime of a checkpoint (the shard id is part of the
  state key — resizing requires a fresh checkpoint). A production
  deployment adds a ProcessingTimeTimeout TTL to age out cold buckets
  (the dedup horizon knob); the bounded test stream keeps state
  forever so the verdict matches the batch oracle exactly.
- per-band verdicts AND-combine per doc in the SERVE layer over the
  sink output (same stream+serve split as stream_topk_users: a doc's
  final verdict needs all 4 band streams, which is a second stateful
  stage a single append-mode stream can't express).
"""

from __future__ import annotations

import pickle
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline.dedup import (
    N_BANDS,
    N_MINHASH,
    _BANDED_SQL,
    _SIG_SQL,
    minhash_signatures,
)
from ..session import read_table
from .drive import file_sink

OUT_SCHEMA = "doc_id long, band int, admitted boolean"
STATE_SCHEMA = "blob binary"
# floor on the bucket-shard count (the stateful stage's parallelism
# lower bound); the actual width follows defaultParallelism at stream
# build time and is pinned for the checkpoint's lifetime.
BUCKET_SHARDS_FLOOR = 8


def _admit(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    band, _shard = key
    # state: pickled dict bucket → min doc_id ever admitted-checked.
    prev = pickle.loads(bytes(state.get[0])) if state.exists else {}
    frames = list(pdfs)
    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    # the shard's rows arrive as MULTIPLE Arrow chunks in no particular
    # order — order by (bucket, doc_id) across the WHOLE micro-batch
    # group, or a later chunk's smaller doc_id would be admitted
    # alongside an earlier chunk's larger one.
    #
    # Per bucket the old sorted-scan loop reduces to a closed form:
    # after ascending sort only the bucket's batch minimum can ever be
    # admitted (every later id sees prev ≤ ids[first] ≤ id), so only
    # each bucket run's FIRST row needs the state probe; the rest of
    # the verdict vector stays False without any per-row work
    # (guide §4.2 — vectorize, touch Python state once per bucket).
    ids_raw = pdf["doc_id"].to_numpy()
    buckets_raw = pdf["bucket"].to_numpy()
    order = np.lexsort((ids_raw, buckets_raw))
    ids = ids_raw[order]
    buckets = buckets_raw[order]
    adm = np.zeros(len(ids), dtype=bool)
    run_start = np.ones(len(ids), dtype=bool)
    if len(ids) > 1:
        run_start[1:] = buckets[1:] != buckets[:-1]
    for i in np.flatnonzero(run_start):
        b = buckets[i]
        mn = int(ids[i])
        p = prev.get(b)
        if p is None:
            adm[i] = True
            prev[b] = mn
        elif mn < p:
            adm[i] = True
            prev[b] = mn
    state.update((pickle.dumps(prev, protocol=4),))
    yield pd.DataFrame(
        {"doc_id": ids, "band": band, "admitted": adm}
    )


def build_verdict_stream(docs_stream: DataFrame) -> DataFrame:
    """Signature → bands → stateful per-bucket admission, as a streaming
    DataFrame of (doc_id, band, admitted) — factored out so the
    multibatch tests can drive it one-file-per-trigger."""
    sig = minhash_signatures(docs_stream)
    rows_per_band = N_MINHASH // N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # shard deterministically (guide §2.5 — no rand-derived keys): a
    # bucket's rows always land in the same (band, shard) group, so the
    # per-bucket admission rule is unchanged; the shard width bounds
    # handler-call count per micro-batch and the stateful stage's
    # parallelism. Pinned at stream build time — part of the state key.
    n_shards = max(
        BUCKET_SHARDS_FLOOR,
        docs_stream.sparkSession.sparkContext.defaultParallelism,
    )
    keyed = banded.withColumn(
        "shard",
        F.pmod(F.xxhash64("bucket"), F.lit(n_shards)).cast("int"),
    )
    return keyed.groupBy("band", "shard").applyInPandasWithState(
        _admit,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_near_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the admission gate over the whole document stream, then
    serve the per-source kept/dropped tally."""
    stream = read_table(spark, sf_dir, "documents", stream=True)
    verdicts = file_sink(build_verdict_stream(stream), "near_dedup_")
    # serve: AND across bands, then the per-source tally
    verd = (
        verdicts.groupBy("doc_id")
        .agg(F.min(F.col("admitted").cast("int")).alias("kept"))
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(verd, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count("*") - F.sum("kept")).cast("bigint").alias("n_dropped"),
        )
    )


# Oracle: the batch restatement of the arrival-order rule — a doc is
# kept iff it is the min doc_id of its bucket in EVERY band.
STREAM_NEAR_DEDUP_SQL = f"""
{_SIG_SQL}, banded AS ({_BANDED_SQL}), verd AS (
    SELECT doc_id,
        MIN(CASE WHEN doc_id = m THEN 1 ELSE 0 END) AS kept
    FROM (
        SELECT doc_id, band, bucket,
            MIN(doc_id) OVER (PARTITION BY band, bucket) AS m
        FROM banded)
    GROUP BY doc_id
)
SELECT d.source, COUNT(*) AS n_docs,
    CAST(SUM(kept) AS BIGINT) AS n_kept,
    CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped
FROM documents d JOIN verd USING (doc_id)
GROUP BY d.source
"""


REGISTRY = [
    ("stream_near_dedup", stream_near_dedup_query, STREAM_NEAR_DEDUP_SQL),
]
