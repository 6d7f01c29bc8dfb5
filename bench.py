"""Benchmark harness: runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the noop sink (real execution,
no driver collect overhead). One small warmup run amortizes JVM/codegen
startup out of the first measurement.

Second scale (VERDICT r4 next-round #7): many queries sit below the
fixed-cost floor at sf0.1, where regressions hide — so after the sf0.1
medians, the same headline set runs once per query against the 10×
replicated corpus (tools/scale_experiment.py layout, built on demand),
and BOTH scales land in the artifact: per-query sf1 seconds in the
final line (2 dp, kept compact for the driver's tail capture) and full
detail in BENCH_DETAIL.json. Set SPARK_GRAFT_BENCH_SF1=0 to skip the
10× pass (e.g. when iterating on one query).

Wall times are reported data, not a gate: time on a shared host swings
2× between runs of identical code. The regression gate is the executed
shuffle-stage budget in tools/plan_audit.py.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_s3_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Representative slice of the operator inventory: scan-agg, fact-fact
# join, 6-way join, window, distinct-agg, ETL partition+flush, dedup
# (LSH + simhash), text stats, ANN, multimodal decode.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_topk_per_group",
    "agg_distinct",
    "etl_row_type_partition",
    "etl_buffer_flush",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_exact",
    "text_token_stats",
    "text_langid",
    "events_asof_join",
    "events_sessionize",
    "agg_percentiles",
    "agg_stats_suite",
    "ann_multi_query_topk",
    "ann_lsh_bucketed",
    "ann_recall_lsh",
    "ann_ivf_topk",
    "dedup_cluster_resolve",
    "etl_buffer_flush_bytes",
    "mm_image_decode_stub",
    "text_pii_mask",
    "text_gopher_repetition",
    "curation_pack_sequences",
    "curation_pipeline_funnel",
    "emb_normalize_quantize",
    "events_funnel_steps",
    "dedup_incremental",
    "fn_map_suite",
    "events_retention_cohorts",
    "curation_length_histogram",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "text_unigram_surprisal",
    "dedup_embedding_lsh",
    "dedup_embedding_lsh_strict",
    "curation_dedup_pipeline",
    "text_bpe_train",
    "text_bpe_train_k64",
    "ann_pq_topk",
    "dedup_semantic",
    "dedup_semantic_k32",
    "dedup_semantic_hier",
    "emb_kcenter_coreset",
    "emb_kcenter_batched",
    "text_phrase_search",
    "curation_url_dedup",
    "text_bm25_search",
    "graph_pagerank",
    "graph_triangles",
    "curation_dsir_weights",
    "curation_weighted_sample",
    "curation_ccnet_buckets",
    "dedup_span_exact",
    "mm_image_resize_real",
    "etl_indexed_gzip_splits",
    "search_hybrid_rrf",
    "curation_split_leakage",
    "events_drift_chi2",
    "mm_audio_decode_real",
    "sketch_countmin",
    "text_tfidf_topk",
    "emb_kmeans",
    "events_ewma",
    "text_bigram_surprisal",
    "sketch_heavy_hitters",
    "sketch_quantile_histogram",
    "events_drift_psi",
    "curation_quality_lr",
    "curation_quality_lr_scores",
    "dedup_fuzzy_names",
    "etl_scd2_merge",
    "etl_snapshot_diff",
    "etl_zorder_skipping",
    "events_session_window",
    "mm_video_frame_sample",
    "events_mad_outliers",
    "emb_pca_project",
    "sketch_ams_f2",
    "dedup_minhash_containment",
    "events_ar1_autocorr",
    "events_asof_tolerance",
    "curation_quality_lr_auc",
    "text_bpe_fertility",
    "text_zipf_fit",
    "curation_epoch_shuffle",
    "events_cusum_alarm",
    "etl_raw_roundtrip",
    "ann_mips_topk",
    "ann_mips_ivf_topk",
    "text_gopher_rules",
    "etl_incremental_agg_merge",
    "sketch_hll_estimate",
    "events_asof_nearest",
    "events_resample_ffill",
    "events_rollup_cascade",
    "events_seasonal_decompose",
    "events_funnel_conversion_time",
    "events_drift_ks",
    "events_peak_detection",
    "curation_quality_lr_calibration",
    "mm_video_shot_boundary",
    "text_learnability",
    "text_ngram_novelty",
    "ann_hard_negatives",
    "emb_prototype_prune",
    "ann_matryoshka_recall",
    "curation_dedup_survivorship",
    "sketch_kmv_intersection",
    "join_interval_overlap",
    "sketch_hll_sliding",
    "etl_compaction_bins",
    "diag_key_skew",
    "agg_bitmap_distinct",
    "events_pit_features",
    "events_streak_runs",
    "fn_lambda_suite",
    "events_markov_stationary",
    "events_recursive_sessions",
    "join_lateral_topn",
    "agg_weighted_median",
    "mm_image_dhash_dedup",
    "mm_audio_fingerprint",
    "fn_try_suite",
    "curation_epoch_shuffle_write",
    "curation_decontaminate",
    "window_rank_dense",
    "text_vocabulary",
    # r9 additions (this session)
    "dedup_ngram_coverage",
    "dedup_source_overlap",
    "events_attribution",
    "events_rfm_segments",
    "events_ab_test",
    "events_session_paths",
    "etl_cdc_merge",
    "graph_label_propagation",
    "text_rake_keywords",
    "ann_knn_join_ivf",
    "ann_recall_knn_join",
    "events_cohort_ltv",
    "emb_outlier_report",
    "graph_link_prediction",
    "text_tfidf_simjoin",
    "events_seasonal_naive_mape",
    "events_dau_mau_stickiness",
    # -- added in round 10 --
    "ann_knn_classify",
    "ann_mmr_diversify",
    "emb_drift_mmd",
    # -- added in round 11 --
    "join_market_basket",
    # -- added in round 12 --
    "events_sequential_patterns",
    "ann_knn_join_pq",
    "ann_recall_knn_join_pq",
]

WARM_RUNS = 3  # warm samples per query; reported value = median

SF1_DIR = "/tmp/scale10"  # tools/scale_experiment.py's 10x corpus


def ensure_scale10(spark) -> bool:
    """Build the 10× corpus if it isn't already on disk (embeddings is
    the last table replicate() writes, so its _SUCCESS implies a
    complete build). Returns False when the pass is disabled."""
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") == "0":
        return False
    if not os.path.exists(os.path.join(SF1_DIR, "embeddings.parquet", "_SUCCESS")):
        from tools.scale_experiment import replicate

        replicate(spark)
    return True


# dedup_embedding_lsh is the deliberately noise-floor-thresholded
# ORACLE ANCHOR (ann.py): its candidate set is pair-bound by design
# (SCALE.md measured 204x pairs at 10x), so at sf1 it alone costs
# ~180 s — 56% of the whole pass — while saying nothing new about the
# engine (its production sibling dedup_embedding_lsh_strict runs the
# same plan shape at a real threshold and IS measured). Skipping it at
# sf1 only, explicitly recorded in the artifact, keeps the 10x pass
# representative instead of anchor-dominated.
SKIP_SF1 = {
    "dedup_embedding_lsh": "noise-floor oracle anchor, pair-bound at 10x",
    # r10: ann_knn_join_ivf / graph_label_propagation /
    # graph_link_prediction now ride the corpus-sized trained-IVF
    # join (cells ∝ sqrt(N), per-cell blocked Arrow scoring) and run
    # at sf1; only the exact truth arm stays guarded
    "ann_recall_knn_join": "exact truth arm quadratic past the guard scale",
    "ann_recall_knn_join_pq": "exact truth arm quadratic past the guard scale",
    # recursion = one frontier shuffle join PER DEPTH level; 10x data
    # makes sessions ~10x longer, so depth x frontier costs ~55 s while
    # the window twin (events_sessionize) stays sub-second — the
    # documented anti-recommendation, measured once in SCALE.md
    "events_recursive_sessions": "depth-proportional recursion demo; window twin is the scale path",
}


def run_sf1(spark, queries) -> tuple[dict[str, float], dict[str, str]]:
    """Warm-then-measure at 10×: one unmeasured run per query (plan
    compile + codegen + page-cache for THESE paths — the sf0.1 medians
    warm different plans over different files), then one measured run.
    The r7 isolated re-probes showed 2-5× cold-vs-warm spreads on the
    heavier queries (e.g. text_gopher_repetition 8.98 → 1.86 s), so a
    cold number would mostly measure compilation. Guarded operators
    that refuse at this scale are recorded as errors, not silently
    dropped."""
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        if name in SKIP_SF1:
            errors[name] = f"skipped_sf1: {SKIP_SF1[name]}"
            continue
        try:
            materialize(queries[name](spark, SF1_DIR))  # warm
            t0 = time.time()
            materialize(queries[name](spark, SF1_DIR))
            times[name] = round(time.time() - t0, 2)
        except Exception as e:
            errors[name] = str(e).split("\n")[0][:120]
    return times, errors


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def loader_throughput(spark, sf_dir: str) -> dict[str, float]:
    """The reference's actual job, measured: synthesize self-describing
    JSON records from events and push one batch through the full emit
    path (row_type partition + gzip text sink + bad-row split).
    Reported as rows/sec and MB/sec of payload — the reference's
    per-shard ceiling is 1 MiB/s (BASELINE.md §2)."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.operators.etl import _SDJ_SPARK
    from kinesis_s3_spark.sinks.emitter import emit
    from kinesis_s3_spark.sources.tables import load_table

    out = tempfile.mkdtemp(prefix="bench_emit_")
    try:
        cfg = from_dict(
            {
                "purpose": "SELF_DESCRIBING",
                "input": {"stream_name": "bench"},
                "output": {
                    "s3": {"path": f"{out}/good", "compression": "GZIP"},
                    "bad_path": f"{out}/bad",
                },
                # production-sized flush buffer: the config DEFAULT
                # (2048 B, mirroring config.hocon.sample's test value)
                # would roll a ~10-record file per object and measure
                # file-creation overhead instead of the emit path
                "buffer": {"byte_limit": 64 * 1024 * 1024},
            }
        )
        one = (
            load_table(spark, sf_dir, "events")
            .withColumn("value", F.expr(_SDJ_SPARK))
            .select("value")
        )
        # 10-fold batch: a micro-batch large enough that per-job fixed
        # costs (~1-2 s) don't dominate the steady-state rate
        batch = one
        for _ in range(9):
            batch = batch.unionByName(one)
        n_bytes = batch.agg(F.sum(F.length("value"))).collect()[0][0]
        # median of 3 emits — the same sandbox-noise protocol as the
        # query timings (single-shot loader numbers swung 203k-288k
        # rows/s run to run)
        rates = []
        for i in range(3):
            t0 = time.time()
            meta = emit(batch, batch_id=i, cfg=cfg)
            dt = time.time() - t0
            rates.append((meta.count / dt, n_bytes / 1e6 / dt))
        rates.sort()
        return {
            "rows_per_sec": round(rates[1][0]),
            "payload_mb_per_sec": round(rates[1][1], 1),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # warmup: JVM + codegen + parquet footer caches on the smoke SF
    materialize(queries["q1_pricing_summary"](spark, "/root/testdata/sf0.001"))

    # cold = first execution (includes codegen/JIT compile for the
    # plan); warm = median of WARM_RUNS further executions
    # (steady-state, what a resident engine serves, with the median
    # absorbing sandbox load spikes — round 2's 35% phantom swing was
    # an n=1 artifact). value/queries report the warm median; cold and
    # the per-query warm spread are kept for context.
    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        materialize(queries[name](spark, sf_dir))
        cold[name] = round(time.time() - t0, 3)
        samples = []
        for _ in range(WARM_RUNS):
            t0 = time.time()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.time() - t0)
        timings[name] = round(statistics.median(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)

    loader = loader_throughput(spark, sf_dir)

    sf1_times: dict[str, float] = {}
    sf1_errors: dict[str, str] = {}
    if ensure_scale10(spark):
        sf1_times, sf1_errors = run_sf1(spark, queries)

    total = round(sum(timings.values()), 3)
    # Full detail (cold timings, warm spread) goes to a sidecar file:
    # round 3's final line carried all three 41-entry maps and outgrew
    # the driver's stdout tail capture (BENCH_r03 "parsed": null). The
    # final stdout line stays compact — the driver parses the LAST line.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    detail = {
        "sf": float(sf),
        "warm_runs": WARM_RUNS,
        "warm_median_sec": timings,
        "cold_sec": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
        "warm_spread_sec": spread,
        "loader": loader,
        "sf1_single_run_sec": sf1_times,
        "sf1_errors": sf1_errors,
        "sf1_total_sec": round(sum(sf1_times.values()), 2),
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    line = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": float(sf),
        "loader": loader,
    }
    if sf1_times:
        # array aligned with the `queries` map's key order (HEADLINE
        # order) — the per-query names are NOT repeated so the final
        # line stays under the driver's tail-capture size; the
        # name-keyed map lives in BENCH_DETAIL.json (sf1_single_run_sec)
        n_skipped = sum(1 for v in sf1_errors.values() if v.startswith("skipped_sf1:"))
        line["sf1"] = {
            "total_sec": round(sum(sf1_times.values()), 2),
            "n_queries": len(sf1_times),
            "n_errors": len(sf1_errors) - n_skipped,
            "n_skipped": n_skipped,
            "sec_by_query_in_queries_order": [
                sf1_times.get(n) for n in HEADLINE if n in sf1_times or n in sf1_errors
            ],
        }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
