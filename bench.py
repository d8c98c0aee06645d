"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "bench_total_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query executes fully through the noop sink (no driver collect, no
result materialization cost — pure plan execution), matching how a
production job would run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_T_IMPORT0 = time.perf_counter()
from emails_to_vector_db_spark.plans import REGISTRY  # noqa: E402
from emails_to_vector_db_spark.session import (  # noqa: E402
    get_spark,
    use_tmpfs_scratch,
)

# Measurement entrypoint: shuffle scratch on tmpfs (the r11 sandbox
# root-disk stall fix). $SPARK_GRAFT_LOCAL_DIR, when set, wins; general
# (non-bench) sessions now default to Spark's on-disk local dir — the
# r11 verdict's "tmpfs must be opt-in" item.
use_tmpfs_scratch()

# registry-import cost (plan modules + their numpy/pandas deps) — part
# of the session-fixed overhead decomposition (r10 verdict task 7)
_IMPORT_SEC = time.perf_counter() - _T_IMPORT0

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# pinned, not sized from the host (session.py::_driver_mem), so
# bench numbers stay comparable with the recorded rounds
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

# Recorded baseline: BENCH_r01.json / BASELINE.md "Recorded baseline" —
# 16 headline queries at sf0.1 on local[32]. Newly-benched queries are
# excluded from the ratio (no recorded number to compare against).
# Full-set reference: the round-7 clean run (74 bench queries, sf0.1,
# local[32], best-of-three per query) — BASELINE.md "Round-7 full-set
# reference". Unlike the 16-query r01 subset above, this covers the
# whole bench surface, so regressions in queries added after round 1
# are visible. The runtime ratio is computed over the intersection so
# future additions don't skew it.
RECORDED_SF01_R07_TOTAL = 86.347
RECORDED_SF01_R07 = {
    "adaboost_stumps": 2.181,
    "adamic_adar_link_prediction": 3.071,
    "alpha_mixing_weights": 0.649,
    "asof_last_click_before_purchase": 0.427,
    "benchmark_decontamination": 1.171,
    "binary_quantized_knn": 1.421,
    "bm25_topk": 1.078,
    "bpe_segmentation_stats": 1.085,
    "bucketed_colocated_join": 0.365,
    "bytes_per_token_by_source": 0.256,
    "cdc_chunk_stability": 1.603,
    "changepoint_detection": 1.301,
    "cohort_retention_matrix": 0.394,
    "containment_near_supersets": 3.582,
    "curation_pipeline_e2e": 0.906,
    "dedup_quality_survivors": 2.911,
    "doc_quality_scores": 0.384,
    "doc_token_stats": 0.284,
    "duplicate_ngram_coverage": 1.959,
    "embedding_jl_projection_pairs": 0.578,
    "embedding_near_dups_lsh": 0.975,
    "embedding_pca_topvar": 0.324,
    "event_funnel_conversion": 0.421,
    "exact_dedup_groups": 0.247,
    "filter_ablation_matrix": 1.979,
    "gopher_repetition_filters": 2.792,
    "hard_negative_mining": 0.353,
    "hash_embed_knn": 0.68,
    "heavy_hitter_terms": 0.482,
    "hourly_event_counts": 0.156,
    "incremental_mv_refresh": 0.271,
    "ivfadc_ann_topk": 0.68,
    "kcore_part_basket": 6.74,
    "kmv_distinct_sketch": 0.296,
    "kneser_ney_bigram_scores": 1.904,
    "knn_join_multi_probe": 0.589,
    "knn_join_probe_cutover": 2.75,
    "knn_topk_l2": 0.399,
    "label_centroid_norm_pandas": 0.369,
    "lang_id_confusion": 0.672,
    "logreg_quality_classifier": 1.254,
    "minhash_lsh_near_dups": 0.919,
    "mips_topk_augmented": 0.373,
    "naive_bayes_lang_classifier": 0.81,
    "near_dup_components": 2.237,
    "ngram_novelty_scores": 1.373,
    "pq_ann_topk": 0.797,
    "prefix_filter_jaccard_join": 2.722,
    "psi_value_drift": 0.522,
    "q10_returned_item_customers": 0.661,
    "q1_pricing_summary": 0.328,
    "q21_suppliers_kept_orders_waiting": 0.844,
    "q3_shipping_priority": 0.664,
    "q5_local_supplier_volume": 0.654,
    "q6_forecast_revenue": 0.189,
    "q7_volume_shipping": 0.755,
    "q9_product_type_profit": 0.713,
    "rfm_customer_segments_approx": 1.151,
    "rm3_query_expansion": 3.221,
    "semantic_dedup_prune": 0.693,
    "simhash_near_dups": 0.869,
    "skyline_pareto_parts": 1.932,
    "sliding_window_counts": 0.294,
    "small_file_compaction_plan": 0.791,
    "softmax_lang_classifier": 2.088,
    "source_token_kl": 0.409,
    "span_exact_dedup": 0.977,
    "spatial_radius_join": 0.801,
    "spatial_radius_topk": 1.23,
    "split_contamination_matrix": 4.268,
    "tfidf_cosine_topk_pairs": 1.088,
    "tfidf_idf_top30": 0.251,
    "unigram_perplexity_scores": 0.646,
    "winnowing_fingerprint_pairs": 1.138,
}

# Round-8 full-set reference: clean idle run post the round-8 additions
# (86 bench queries incl. the 12 promotions), same best-of-three/noop
# protocol, on the ROUND-8 regenerated fixtures — recorded because the
# driver regenerates /root/testdata each round and cross-regeneration
# comparisons carry fixture drift on top of host noise (BASELINE.md
# "Round-8 full-set reference").
# Round-9 clean-idle reference: per-query BEST-OF-THREE in-session runs
# (97 bench queries incl. the 6 r9 promotions: the four postings-store
# twins, bitext_margin_mining_ivf, and the r8 recall audits kept), on
# the ROUND-9 regenerated fixtures — same rationale as the r8 block.
RECORDED_SF01_R09_TOTAL = 134.516
RECORDED_SF01_R09 = {
    "adaboost_stumps": 2.028,
    "adamic_adar_link_prediction": 3.395,
    "alpha_mixing_weights": 0.806,
    "asof_last_click_before_purchase": 0.468,
    "benchmark_decontamination": 1.353,
    "binary_quantized_knn": 1.348,
    "bitext_margin_mining_ivf": 2.439,
    "bm25_topk": 1.141,
    "bm25_topk_from_index": 0.213,
    "bpe_segmentation_stats": 1.152,
    "bucketed_colocated_join": 0.36,
    "bytes_per_token_by_source": 0.247,
    "cdc_chunk_stability": 1.529,
    "changepoint_detection": 1.502,
    "cohort_retention_matrix": 0.469,
    "containment_near_supersets": 3.946,
    "corpus_snapshot_diff": 0.819,
    "cross_encoder_rerank_topk": 0.7,
    "curation_pipeline_e2e": 0.785,
    "dedup_quality_survivors": 3.405,
    "distilled_filter_agreement": 2.798,
    "doc_quality_scores": 0.345,
    "doc_token_stats": 0.249,
    "duplicate_ngram_coverage": 2.129,
    "embedding_jl_projection_pairs": 0.583,
    "embedding_lsh_recall_audit": 3.158,
    "embedding_near_dup_groups": 1.292,
    "embedding_near_dups_lsh": 1.31,
    "embedding_pca_topvar": 0.372,
    "epoch_shuffle_decorrelation": 0.415,
    "event_funnel_conversion": 0.519,
    "exact_dedup_groups": 0.294,
    "excess_loss_mixture": 2.241,
    "filter_ablation_matrix": 1.26,
    "gopher_repetition_filters": 1.023,
    "hard_negative_mining": 0.468,
    "hash_embed_knn": 0.803,
    "heavy_hitter_terms": 0.577,
    "hourly_event_counts": 0.213,
    "hybrid_rrf_from_index": 0.696,
    "incremental_curation_e2e": 5.667,
    "incremental_lsh_dedup": 4.231,
    "incremental_mv_refresh": 0.373,
    "ivf_rebalance_plan": 1.904,
    "ivfadc_ann_topk": 0.821,
    "kcore_part_basket": 7.323,
    "kmv_distinct_sketch": 0.626,
    "kneser_ney_bigram_scores": 2.269,
    "knn_join_multi_probe": 0.488,
    "knn_join_probe_cutover": 2.964,
    "knn_topk_l2": 0.468,
    "label_centroid_norm_pandas": 0.398,
    "lang_id_confusion": 0.638,
    "logreg_quality_classifier": 1.531,
    "longest_dup_substring": 3.771,
    "loo_source_valuation": 5.662,
    "minhash_lsh_near_dups": 1.023,
    "minhash_near_dup_groups": 1.448,
    "minhash_recall_precision_audit": 3.768,
    "mips_topk_augmented": 0.344,
    "naive_bayes_lang_classifier": 0.744,
    "near_dup_components": 2.274,
    "ngram_novelty_scores": 1.241,
    "paired_bootstrap_from_index": 2.441,
    "pq_ann_topk": 0.619,
    "prefix_filter_jaccard_join": 2.8,
    "psi_value_drift": 0.528,
    "q10_returned_item_customers": 0.593,
    "q1_pricing_summary": 0.311,
    "q21_suppliers_kept_orders_waiting": 0.771,
    "q3_shipping_priority": 0.606,
    "q5_local_supplier_volume": 0.681,
    "q6_forecast_revenue": 0.185,
    "q7_volume_shipping": 0.808,
    "q9_product_type_profit": 0.718,
    "rfm_customer_segments_approx": 0.991,
    "rm3_query_expansion": 3.061,
    "rm3_query_expansion_from_index": 1.562,
    "semantic_dedup_prune": 0.534,
    "simhash_near_dups": 0.819,
    "skyline_pareto_parts": 1.637,
    "sliding_window_counts": 0.248,
    "small_file_compaction_plan": 0.663,
    "softmax_lang_classifier": 1.875,
    "source_token_kl": 0.399,
    "span_exact_dedup": 0.877,
    "spatial_radius_join": 0.697,
    "spatial_radius_topk": 1.047,
    "split_contamination_matrix": 3.313,
    "split_leakage_audit": 0.536,
    "substring_window_dedup": 1.857,
    "template_dups_cross_lang": 1.052,
    "tfidf_cosine_from_index": 0.487,
    "tfidf_cosine_topk_pairs": 1.164,
    "tfidf_idf_top30": 0.242,
    "unigram_perplexity_scores": 0.564,
    "winnowing_fingerprint_pairs": 1.004,
}

RECORDED_SF01_R08_TOTAL = 107.067
RECORDED_SF01_R08 = {
    "adaboost_stumps": 1.79,
    "adamic_adar_link_prediction": 2.58,
    "alpha_mixing_weights": 0.562,
    "asof_last_click_before_purchase": 0.31,
    "benchmark_decontamination": 1.0,
    "binary_quantized_knn": 1.087,
    "bm25_topk": 1.104,
    "bpe_segmentation_stats": 1.019,
    "bucketed_colocated_join": 0.375,
    "bytes_per_token_by_source": 0.219,
    "cdc_chunk_stability": 1.468,
    "changepoint_detection": 1.367,
    "cohort_retention_matrix": 0.455,
    "containment_near_supersets": 3.792,
    "corpus_snapshot_diff": 0.62,
    "curation_pipeline_e2e": 0.671,
    "dedup_quality_survivors": 3.105,
    "doc_quality_scores": 0.306,
    "doc_token_stats": 0.213,
    "duplicate_ngram_coverage": 1.791,
    "embedding_jl_projection_pairs": 0.489,
    "embedding_near_dup_groups": 1.056,
    "embedding_near_dups_lsh": 0.993,
    "embedding_pca_topvar": 0.307,
    "epoch_shuffle_decorrelation": 0.361,
    "event_funnel_conversion": 0.392,
    "exact_dedup_groups": 0.228,
    "excess_loss_mixture": 2.526,
    "filter_ablation_matrix": 0.975,
    "gopher_repetition_filters": 0.798,
    "hard_negative_mining": 0.356,
    "hash_embed_knn": 0.6,
    "heavy_hitter_terms": 0.493,
    "hourly_event_counts": 0.187,
    "incremental_curation_e2e": 5.01,
    "incremental_lsh_dedup": 3.943,
    "incremental_mv_refresh": 0.297,
    "ivf_rebalance_plan": 2.193,
    "ivfadc_ann_topk": 1.073,
    "kcore_part_basket": 9.667,
    "kmv_distinct_sketch": 0.345,
    "kneser_ney_bigram_scores": 1.909,
    "knn_join_multi_probe": 0.39,
    "knn_join_probe_cutover": 2.131,
    "knn_topk_l2": 0.368,
    "label_centroid_norm_pandas": 0.335,
    "lang_id_confusion": 0.543,
    "logreg_quality_classifier": 1.226,
    "loo_source_valuation": 4.939,
    "minhash_lsh_near_dups": 0.987,
    "minhash_near_dup_groups": 1.621,
    "mips_topk_augmented": 0.3,
    "naive_bayes_lang_classifier": 0.804,
    "near_dup_components": 2.052,
    "ngram_novelty_scores": 1.27,
    "pq_ann_topk": 0.541,
    "prefix_filter_jaccard_join": 2.723,
    "psi_value_drift": 0.541,
    "q10_returned_item_customers": 0.589,
    "q1_pricing_summary": 0.297,
    "q21_suppliers_kept_orders_waiting": 0.862,
    "q3_shipping_priority": 0.675,
    "q5_local_supplier_volume": 0.643,
    "q6_forecast_revenue": 0.174,
    "q7_volume_shipping": 0.733,
    "q9_product_type_profit": 0.622,
    "rfm_customer_segments_approx": 0.984,
    "rm3_query_expansion": 3.118,
    "semantic_dedup_prune": 0.666,
    "simhash_near_dups": 1.048,
    "skyline_pareto_parts": 1.766,
    "sliding_window_counts": 0.271,
    "small_file_compaction_plan": 0.77,
    "softmax_lang_classifier": 1.864,
    "source_token_kl": 0.406,
    "span_exact_dedup": 0.887,
    "spatial_radius_join": 0.72,
    "spatial_radius_topk": 0.948,
    "split_contamination_matrix": 3.161,
    "split_leakage_audit": 0.553,
    "substring_window_dedup": 2.311,
    "template_dups_cross_lang": 1.0,
    "tfidf_cosine_topk_pairs": 1.283,
    "tfidf_idf_top30": 0.228,
    "unigram_perplexity_scores": 0.594,
    "winnowing_fingerprint_pairs": 1.091,
}

RECORDED_SF01_TOTAL = 23.207
RECORDED_SF01 = {
    "asof_last_click_before_purchase": 2.129,
    "doc_token_stats": 0.675,
    "embedding_near_dups_lsh": 2.693,
    "exact_dedup_groups": 1.895,
    "hash_embed_knn": 0.997,
    "hourly_event_counts": 0.375,
    "knn_join_multi_probe": 0.774,
    "knn_topk_l2": 0.46,
    "minhash_lsh_near_dups": 1.898,
    "q10_returned_item_customers": 0.893,
    "q1_pricing_summary": 0.497,
    "q3_shipping_priority": 1.153,
    "q5_local_supplier_volume": 0.951,
    "simhash_near_dups": 4.126,
    "sliding_window_counts": 2.449,
    "tfidf_idf_top30": 1.242,
}


def _tree_rss_gb() -> float:
    """Total RSS of this process tree (driver JVM + Python workers), via
    /proc — stderr diagnostics only, never part of the JSON contract."""
    import glob as _glob

    me = os.getpid()
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for sf in _glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(sf) as fh:
                parts = fh.read().rsplit(") ", 1)[-1].split()
            pid = int(sf.split("/")[2])
            ppid = int(parts[1])
            rss[pid] = int(parts[21]) * os.sysconf("SC_PAGE_SIZE")
            children.setdefault(ppid, []).append(pid)
        except (OSError, ValueError, IndexError):
            continue
    total, stack, seen = 0, [me], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total / (1 << 30)


def main() -> None:
    t_wall0 = time.perf_counter()
    spark = get_spark(app_name="e2v-bench", cpus=CPUS)
    # Warm the JVM/codegen path once on the smallest table so the first
    # measured query doesn't pay session startup. r11: also spin up the
    # Arrow Python worker pool and the whole-stage-codegen compiler once
    # — the first Arrow lane otherwise pays worker fork + Arrow init
    # inside its timed run (measured: run-1 of the first queries 2-4x
    # their steady state). Still session warmup, not query work: no
    # bench table other than the 5-row region file is touched.
    from pyspark.sql import functions as _F

    warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
    warm.count()
    warm.groupBy("r_name").count().write.format("noop").mode(
        "overwrite"
    ).save()

    @_F.pandas_udf("long")
    def _warm_arrow(s):
        return s

    warm.select(_warm_arrow(_F.col("r_regionkey"))).write.format(
        "noop"
    ).mode("overwrite").save()
    session_sec = time.perf_counter() - t_wall0

    bench_specs = {n: s for n, s in REGISTRY.items() if s.bench}
    timings: dict[str, float] = {}
    sum_runs = 0.0
    for name, spec in sorted(bench_specs.items()):
        # Best of three runs: the host shows heavy run-to-run noise (the
        # same plan has measured 1.3s and 8.7s minutes apart), and later
        # runs measure steady-state (codegen/JIT-warm) plan cost — the
        # number that actually compares plan quality across rounds. Two
        # runs proved not enough: one noise window covers both.
        best = None
        runs: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            runs.append(dt)
            sum_runs += dt
            best = dt if best is None else min(best, dt)
            # Cache hygiene BETWEEN runs and queries: several plans persist
            # a shared intermediate (retrieval/dedup); leaving those cached
            # pollutes later queries' executor memory and re-persisting the
            # same data each run spams the CacheManager — each timed run
            # must pay (and only pay) its own plan's cost.
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(
            f"# {name}: {timings[name]}s runs={[round(r, 2) for r in runs]} "
            f"rss_gb={_tree_rss_gb():.1f}",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # session-fixed overhead decomposition (r10 verdict task 7):
        # wall = import + session/JVM spinup + 3×query runs + residual
        # (inter-query hygiene, artifact freshness probes, GC)
        "overhead": {
            "wall_sec": round(time.perf_counter() - t_wall0, 3),
            "import_sec": round(_IMPORT_SEC, 3),
            "session_sec": round(session_sec, 3),
            "sum_best_sec": round(sum(timings.values()), 3),
            "sum_runs_sec": round(sum_runs, 3),
        },
    }
    if payload["sf"] == 0.1:
        # regression vs the recorded round-1 baseline, over the queries
        # that have a recorded number (< 1.0 = faster than baseline)
        common = [n for n in timings if n in RECORDED_SF01]
        rec = sum(RECORDED_SF01[n] for n in common)
        now = sum(timings[n] for n in common)
        if rec > 0:
            payload["baseline_ratio"] = round(now / rec, 3)
            print(
                f"# vs recorded sf0.1 baseline ({len(common)} queries): "
                f"{payload['baseline_ratio']}x (recorded {rec:.1f}s, "
                f"now {now:.1f}s)",
                file=sys.stderr,
            )
        # full-set ratio vs the round-7 reference run (covers the whole
        # bench surface, not just the r01 16-query subset)
        common9 = [n for n in timings if n in RECORDED_SF01_R09]
        rec9 = sum(RECORDED_SF01_R09[n] for n in common9)
        now9 = sum(timings[n] for n in common9)
        if rec9 > 0:
            payload["r09_set_ratio"] = round(now9 / rec9, 3)
            print(
                f"# vs r09 full-set reference ({len(common9)} queries): "
                f"{payload['r09_set_ratio']}x (recorded {rec9:.1f}s, "
                f"now {now9:.1f}s)",
                file=sys.stderr,
            )
        common8 = [n for n in timings if n in RECORDED_SF01_R08]
        rec8 = sum(RECORDED_SF01_R08[n] for n in common8)
        now8 = sum(timings[n] for n in common8)
        if rec8 > 0:
            payload["r08_set_ratio"] = round(now8 / rec8, 3)
            print(
                f"# vs r08 full-set reference ({len(common8)} queries): "
                f"{payload['r08_set_ratio']}x (recorded {rec8:.1f}s, "
                f"now {now8:.1f}s)",
                file=sys.stderr,
            )
        common7 = [n for n in timings if n in RECORDED_SF01_R07]
        rec7 = sum(RECORDED_SF01_R07[n] for n in common7)
        now7 = sum(timings[n] for n in common7)
        if rec7 > 0:
            payload["full_set_ratio"] = round(now7 / rec7, 3)
            print(
                f"# vs r07 full-set reference ({len(common7)} queries): "
                f"{payload['full_set_ratio']}x (recorded {rec7:.1f}s, "
                f"now {now7:.1f}s)",
                file=sys.stderr,
            )
    line = json.dumps(payload)
    # The one-line stdout contract stays authoritative; the sidecar file
    # is a byte-identical fallback for tail-capture truncation (round 10's
    # official geomean was lost to a mid-line cut of this very line —
    # r11 verdict "What's wrong" #4 / task 2).
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_out.json",
            ),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError as exc:
        print(f"# bench_out.json not written: {exc}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
