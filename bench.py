"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (a caller parses only the last stdout line, from a
~2000-char tail capture): the FULL record {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...} is
written to BENCH_LOCAL.json and printed on its own line; the FINAL
stdout line (``final_line``, at most FINAL_LINE_BUDGET chars) is
{"metric": "headline_total", "value": total_sec, "unit": "sec", "sf":
..., "n_queries": ..., "stream_overhead": ..., "queries": {the slowest
queries that fit}, "n_omitted": ..., "omitted_sum": ...}.

Env knobs: SPARK_GRAFT_BENCH_REPS (best-of-N, default 3),
SPARK_GRAFT_BENCH_ORDER=heavy_first (run the iterative-trainer block
first — slate-pressure experiments), SPARK_GRAFT_BENCH_ONLY=a,b,c
(subset slate for split-JVM runs).

Reading the sim/emb block: five entries (emb_kmeans, emb_silhouette,
sim_pq_codes, sim_pq_distortion, sim_ivfadc_topk) each RE-TRAIN the
shared k-means/PQ codebooks inside their own query — the
standalone-oracle contract requires it — so ~60% of that block's
bench cost is repeated training, not serving. At production scale
you train once and serve many; the serving-side cost of these plans
is the post-training passes only (cell prune + broadcast-LUT scoring,
one assignment pass, one distortion agg).

Each query is fully materialized via the noop sink (no driver-side
collect — measures the distributed plan, not result transfer).
Per-query time is best-of-N (default 3, $SPARK_GRAFT_BENCH_REPS) to
cut the ±30% single-run variance observed in round 1.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q10",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "cdc_change_feed",
    "cdc_micro_organizer",
    "tm_cells",
    "tm_asof_snapshot",
    "text_quality",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "temporal_asof_join",
    "sessionize_events",
    "sketch_kmv_distinct",
    "sim_ivf_topk",
    "dedup_ngram_jaccard",
    "cdc_apply_upsert",
    "text_tfidf",
    "curate_chunk_documents",
    "stats_corr",
    "curate_e2e_pipeline",
    "text_pmi_bigrams",
    "text_bigram_lm",
    "dedup_dupfrac_ngrams",
    "runner_pipeline",
    "temporal_sliding_window",
    "tm_snapshot_delta",
    "text_oov_rate",
    "sketch_quantile_grid",
    # round-4 batch-3/4 headliners
    "corpus_source_overlap",
    "stream_near_dedup",
    "sim_knn_graph",
    "cdc_net_effect_compact",
    # round-5 headliners: the newly-oracled iterative trainers, the
    # streaming SCD2 state op, and the tokenizer/semantic-dedup adds
    "emb_kmeans",
    "sim_pq_codes",
    "graph_kcore",
    "stream_scd2_intervals",
    "text_bpe_encode",
    "dedup_semantic_cells",
    # round-6 additions: on the slate from their first graded round so
    # drift is visible from day one (round-6 verdict item 6)
    "sim_knn_classifier",
    "graph_label_propagation",
    "curate_coreset_kcenter",
    "corpus_vocab_growth",
    "sim_ivfadc_topk",
    "ts_trend_ols",
    # round-7 additions, same first-round-on-slate rule
    "dedup_substring_spans",
    "curate_dsir_weights",
    "curate_ccnet_buckets",
    "sketch_ams_f2",
    "sim_mmr_select",
    "stats_ols_multi",
    "cdc_metrics_report",
    "emb_outlier_mahal",
    "corpus_dispersion_dp",
    "curate_dsir_sample",
    "text_token_entropy",
    "events_wow_growth",
    "sim_nprobe_sweep",
    "text_code_detect",
    "text_readability",
    "events_entropy_rate",
    "sim_pq_distortion",
    "ts_theil_sen",
    "emb_silhouette",
    "graph_modularity",
    "events_pareto_share",
    "graph_link_prediction",
    "text_mattr_diversity",
    "sim_hamming_recall",
    "tm_timetravel_counts",
    "corpus_term_burstiness",
    "agg_grouping_sets",
    "events_conversion_latency",
    "emb_jl_fidelity",
    "stats_wilson_ci",
    "corpus_herfindahl",
    "corpus_head_coverage",
    "ts_seasonal_outliers",
    # round-8 additions, same first-round-on-slate rule
    "ts_holt_winters",
    "events_survival_km",
    "graph_degree_powerlaw",
    "corpus_ngram_novelty",
    "curate_temperature_mix",
    "dedup_template_prefix",
    "tm_cell_lifetimes",
    "cdc_metrics_exposition",
    "stats_mannwhitney_u",
    "events_markov_stationary",
    "dedup_minhash_band_tuning",
    "text_kneser_ney",
    "sim_rrf_fusion",
    "tm_bitemporal_asof",
    "corpus_chao1_richness",
    # round-9 additions (first round on the slate)
    "stats_kendall_tau",
    "stats_jackknife_se",
    "emb_isotropy",
    "sketch_countsketch_topk",
    "temporal_interval_join",
    "events_dau_mau",
    "graph_connected_components",
    "dq_psi_drift",
    "text_rake_keywords",
    "ts_sax_symbols",
    "cdc_sink_idempotency",
    "curate_rejection_sample",
    "dedup_chunk_cdc",
    "stats_hodges_lehmann",
    "emb_participation_ratio",
    # round-10 addition (first round on the slate)
    "stream_schema_ddl_replay",
    # round-11 additions (first round on the slate)
    "cdc_type_decode_compat",
    "source_binlog_roundtrip",
    # round-12 additions (first round on the slate)
    "source_binlog_gtid_resume",
    "source_binlog_enum_roundtrip",
    # round-13 additions (first round on the slate)
    "source_binlog_charset_rowkey",
    "source_binlog_partial_json",
    # round-14 additions (first round on the slate)
    "source_binlog_legacy_temporals",
    "source_binlog_ddl_replay",
]


# The expensive iterative-trainer block (k-means/PQ/IVF and friends).
# By default it runs late in slate order; SPARK_GRAFT_BENCH_ORDER=
# heavy_first moves it to the front so slate-position JVM pressure
# (GC/JIT accumulation over an 80+ op single-JVM session) can be
# separated from genuine plan regressions.
HEAVY_BLOCK = [
    "emb_kmeans",
    "sim_pq_codes",
    "sim_pq_distortion",
    "emb_silhouette",
    "sim_ivfadc_topk",
    "sim_knn_graph",
    "sim_knn_classifier",
    "stream_near_dedup",
]


FINAL_LINE_BUDGET = 1900  # callers keep only a ~2000-char stdout tail


def final_line(summary: dict, timings: dict) -> str:
    """The one line a caller parses: ``summary`` plus the largest
    time-ranked prefix of the per-query map that keeps the line within
    ``FINAL_LINE_BUDGET`` chars (122 query names alone exceed it), with the rest
    accounted as ``n_omitted`` queries taking ``omitted_sum`` seconds.
    The full map is in BENCH_LOCAL.json."""
    ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))

    def line(k: int) -> str:
        rest = ranked[k:]
        return json.dumps(
            {
                **summary,
                "queries": {n: round(sec, 2) for n, sec in ranked[:k]},
                "n_omitted": len(rest),
                "omitted_sum": round(sum(sec for _, sec in rest), 2),
            },
            separators=(",", ":"),
        )

    k = len(ranked)
    while k and len(line(k)) > FINAL_LINE_BUDGET:
        k -= 1
    return line(k)


def main() -> None:
    global HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    order = os.environ.get("SPARK_GRAFT_BENCH_ORDER", "")
    if order == "heavy_first":
        HEADLINE = HEAVY_BLOCK + [
            n for n in HEADLINE if n not in HEAVY_BLOCK
        ]
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        want = [n.strip() for n in only.split(",") if n.strip()]
        HEADLINE = [n for n in HEADLINE if n in want]
    from replicator_spark import api
    from replicator_spark.session import get_spark

    spark = get_spark("bench")
    qs = api.queries()
    # Warm the JVM, codegen, parquet footers, and the noop-sink path so
    # the first measured query doesn't pay one-time session costs (it
    # otherwise reads ~2s slower than steady state).
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.count("*")).write.format(
        "noop"
    ).mode("overwrite").save()
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(reps):
            start = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    # Decompose the most expensive composed headliner so its cost is
    # attributable: time the connected-components sub-plan alone; the
    # remainder is quality-filter + split + stats agg.
    stages: dict[str, float] = {}
    if "curate_e2e_pipeline" in timings:
        from replicator_spark.pipeline.cluster import connected_components
        from replicator_spark.pipeline.dedup import minhash_lsh_pairs
        from replicator_spark.session import read_table

        best_cc = float("inf")
        for _ in range(reps):
            start = time.perf_counter()
            docs = read_table(spark, sf_dir, "documents")
            labels = connected_components(
                docs.select("doc_id"), minhash_lsh_pairs(docs)
            )
            labels.write.format("noop").mode("overwrite").save()
            best_cc = min(best_cc, time.perf_counter() - start)
        stages["curate_e2e_pipeline/cc_labels"] = round(best_cc, 3)
        stages["curate_e2e_pipeline/downstream"] = round(
            max(timings["curate_e2e_pipeline"] - best_cc, 0.0), 3
        )
    # Structured-Streaming fixed overhead: a minimal availableNow
    # pass-through (readStream → parquet sink + checkpoint → drain)
    # with no operator logic. The stream_* headliners each pay roughly
    # this setup/teardown cost, so round-over-round drift in their
    # OPERATOR cost is timings[name] - stream_overhead.
    stream_overhead = float("inf")
    import shutil
    import tempfile

    for _ in range(reps):
        base = tempfile.mkdtemp(prefix="bench_stream_ovh_")
        try:
            start = time.perf_counter()
            schema = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).schema
            q = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "documents.parquet")
                .parquet(sf_dir)
                .select("doc_id")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", os.path.join(base, "out"))
                .option(
                    "checkpointLocation", os.path.join(base, "ckpt")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            stream_overhead = min(
                stream_overhead, time.perf_counter() - start
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if stages:
        out["stages"] = stages
    # reps=0 leaves the sentinel inf in place; json.dumps would emit
    # the non-standard token `Infinity`, so only report a real sample.
    if math.isfinite(stream_overhead):
        out["stream_overhead"] = round(stream_overhead, 3)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL.json"), "w"
    ) as fh:
        json.dump(out, fh)
        fh.write("\n")
    print(json.dumps(out))
    summary = {
        k: out[k] for k in ("metric", "value", "unit", "sf")
    }
    summary["n_queries"] = len(timings)
    if "stream_overhead" in out:
        summary["stream_overhead"] = out["stream_overhead"]
    print(final_line(summary, timings))
    spark.stop()


if __name__ == "__main__":
    main()
