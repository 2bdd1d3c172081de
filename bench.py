"""Benchmark runner — prints ONE JSON line with per-query wall-clock.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is timed by
``perfbench.harness.measure`` — the builder call through a write to the
noop sink (no driver collect; measures the whole distributed plan) — and
every cache it leaves is released before the next query. First query pays
JVM/codegen warmup; a throwaway warmup pass runs first so per-query numbers
are comparable. A failing query costs one ``failed`` row in
BENCH_LOCAL.json, not the run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "wordcount",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "simhash_topm_neighbors",
    "gemm_coordinate",
    "gemm_block",
    "similarity_topk",
    "similarity_lsh_topk",
    "events_sessionize",
    "events_daily_rollup",
    # round-2 additions: one per new family so regressions stay visible
    "kmeans_clusters",
    "corpus_curation",
    "asof_purchase_signup",
    "media_features",
    # training-data pipeline family (added late round 2)
    "decontaminate",
    "quality_rules",
    # sketch / time-series / fuzzy families (added late round 2)
    "cms_heavy_hitters",
    "events_gap_fill",
    "fuzzy_part_names",
    # warehouse / scan-layer / eval families (added end of round 2)
    "scd2_user_state",
    "peak_concurrent_sessions",
    "synthetic_source_rollup",
    # corpus-management / contrastive-mining / stream-diagnostic families
    # (round 3)
    "epoch_shard_manifest",
    "hard_negative_mining",
    "watermark_lateness",
    # corpus-mining / prefix-sum families (round 3, second half)
    "pmi_bigrams",
    "vocab_coverage",
    # SQL front-end + graph-peel families (round 3, closing)
    "sql_revenue_concentration",
    "kcore_near_dup",
    # compliance/privacy + sketch-estimation + exact-linear-algebra +
    # attribution families (round 3, final)
    "pii_redaction",
    "forget_audit",
    "cms_join_size",
    "embedding_gram",
    "events_attribution",
    # experimentation + recency-feature families (round 3, final)
    "ab_test_welch",
    "ewma_user_value",
    # collaborative-filtering family (round 3, final)
    "recommend_parts",
    # forensics / analytics-grid / quant-eval families (round 3, final)
    "value_band_pairs",
    "cohort_ltv",
    "rolling_correlation_14d",
    "quantization_recall",
    # concentration / eval-scorecard / churn / decay-attribution families
    # (round 3, closing)
    "revenue_gini",
    "langid_prf",
    "leaderboard_churn",
    "events_decay_attribution",
    # forecast-eval / set-sketch / hybrid-retrieval families (round 4)
    "seasonal_naive_backtest",
    "kmv_set_similarity",
    "hybrid_rrf_retrieval",
    # feature-store / drift / grouped-regression / robust-stats /
    # nearest-asof / position-bias families (round 4, cont.)
    "feature_store_pit",
    "feature_drift_buckets",
    "brand_discount_ols",
    "brand_trimmed_mean",
    "asof_nearest_error",
    "position_bias_curve",
    # sketch-completion / search / graph-metric / spatial / linalg /
    # bitmap families (this session)
    "hll_cardinality",
    "phrase_search",
    "near_dup_assortativity",
    "spatial_nearest_neighbor",
    "embedding_power_iteration",
    "user_day_bitmaps",
    # robust-stats / attribution / wavelet / mining families (this
    # session, cont.)
    "weighted_median_price",
    "markov_removal_attribution",
    "haar_revenue_energy",
    "frequent_part_triples",
    # retrieval-diversity / segmentation / planning-grid / attribution
    # families (this session, closing)
    "mmr_diverse_retrieval",
    "topic_shift_boundaries",
    "abc_xyz_matrix",
    "shapley_channel_attribution",
    # LM-scoring / uncertainty / warehouse-maintenance families (this
    # session: driver round 2, third sitting)
    "unigram_surprisal_filter",
    "dsir_importance_weights",
    "conformal_price_intervals",
    "incremental_agg_maintenance",
    # association / LM-retrieval / sketch-set-algebra / survival /
    # distribution-distance families (driver round 2, fourth sitting)
    "brand_association_rules",
    "qlm_retrieval",
    "hll_source_overlap",
    "nelson_aalen_hazard",
    "wasserstein_price_segments",
    # heavy-hitter / robust-fit / interval-algebra / trend families
    # (driver round 2, fourth sitting closing — round-2 verdict item 5)
    "misra_gries_heavy_hitters",
    "ransac_price_fit",
    "allen_interval_profile",
    "mann_kendall_trend",
    # round-3 additions: sketch-audit / growth-law / data-valuation /
    # record-linkage / sequential-testing / retrieval-sweep families
    "approx_quantile_audit",
    "heaps_law_fit",
    "shapley_lang_valuation",
    "fellegi_sunter_weights",
    "sprt_ab_boundary",
    "bm25_param_sweep",
    # experimentation/causal + relaxation-graph families (round 4)
    "fdr_bh_discoveries",
    "cem_matched_effect",
    "bellman_ford_delta_frontier",
    # monitoring / burst-DP / segmentation / density-outlier /
    # exact-embedding families (round 4, cont.)
    "sample_ratio_mismatch",
    "group_sequential_obf",
    "kleinberg_burst_days",
    "rfm_cell_matrix",
    "lof_outliers",
    "sppmi_rank1_embedding",
    # real-bytes codec + tokenizer-training families (round 5)
    "media_png_roundtrip",
    "bpe_train_merges",
    "bpe_tokenize_corpus",
    # privacy-EMD / ranking-eval / dedup-diagnostic / allocation /
    # semantic-dedup / ordering families (round 5, cont.)
    "t_closeness",
    "ndcg_by_lang",
    "duplicate_ngram_coverage",
    "token_budget_waterfill",
    "semdedup_manifest",
    "context_chain_manifest",
    "bpe_compression_by_source",
    # cluster-eval / SLO-percentile / online-eval / calibration /
    # rank-correlation families (round 5, closing)
    "bcubed_cluster_eval",
    "events_value_percentiles",
    "team_draft_interleaving",
    "isotonic_dup_calibration",
    "kendall_tau_qty_discount",
    # TPC-H completion + PR-eval (round 5, final)
    "volume_shipping",
    "product_type_profit",
    "average_precision_dup",
    "mutual_nearest_pairs",
    # celled hard-negative mining / weighted sampling / community /
    # linkage-decision families (round 7)
    "ivf_hard_negatives",
    "weighted_sample_es",
    "lpa_communities",
    "record_linkage_classify",
    # real-bytes audio / denoising-objective / multi-rater-agreement /
    # preference-pair / truncation-recall / mixture families (round 7, cont.)
    "media_wav_roundtrip",
    "span_corruption_manifest",
    "fleiss_kappa",
    "dpo_pair_manifest",
    "matryoshka_recall",
    "mixture_temperature_sweep",
    # unigram-LM tokenizer / shard-mixing / centrality / IV / MoE
    # families (round 7, closing)
    "unigram_lm_tokenizer",
    "shard_mixing_audit",
    "harmonic_centrality",
    "iv_wald_estimate",
    "moe_routing_audit",
    # bake-off / eval-stat / anomaly / scorecard / shuffle-health /
    # privacy / RLHF-shaping families (round 7, final)
    "tokenizer_parity",
    "pass_at_k_estimate",
    "seasonal_esd_outliers",
    "woe_iv_scorecard",
    "salted_shuffle_balance",
    "user_contribution_capping",
    "grpo_advantage_manifest",
    "prefix_cache_hits",
    "dict_encoding_estimate",
    # PAPERS.md counterparts: elastic TS similarity / diversified regions /
    # trajectory search (round 7, absolute close)
    "dtw_brand_similarity",
    "diversified_top_regions",
    "trajectory_similarity_topk",
    "golden_record_fields",
    "selectivity_independence_audit",
]

# Load markers (VERDICT_r04 item 5): driver-round bench numbers have been
# ambient-load inflated up to ~2x, forcing BASELINE.md bands to widen.
# Two markers let readers normalize:
# - a single-thread integer spin, rated against the reference rate
#   measured on this box idle (9.6e6 iter/s) — detects CPU saturation;
# - q1_pricing_summary wall-clock vs its idle-solo median (0.95 s) —
#   detects end-to-end contention (scheduler, memory bandwidth).
REF_SPIN_RATE = 9.6e6
REF_Q1_SEC = 0.95


def spin_rate(seconds: float = 0.5) -> float:
    t0 = time.perf_counter()
    n, x = 0, 1
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10000
    return n / (time.perf_counter() - t0)


# stdout keys taken from the full record, in print order
STDOUT_KEYS = (
    "metric",
    "value",
    "value_normalized",
    "cpu_load_factor",
    "q1_load_factor",
    "unit",
    "sf",
    "n_queries",
)
FLAGSHIP = [
    "q1_pricing_summary",
    "minhash_lsh_pairs",
    "similarity_topk",
    "recommend_parts",
    "markov_removal_attribution",
]


def bench_records(
    recs: list[dict], spin: float, sf: float | None
) -> tuple[dict, dict]:
    """The BENCH_LOCAL.json record and the stdout record of one timed pass.

    ``recs`` are ``perfbench.harness.run_pass`` query records. A query
    whose record carries ``error`` is listed under ``failed`` in the full
    record and left out of ``value``, ``queries`` and ``n_queries``.
    """
    times = {r["query"]: round(r["latency_s"], 3) for r in recs if "error" not in r}
    failed = {r["query"]: r["error"] for r in recs if "error" in r}
    total = round(sum(times.values()), 3)
    cpu_load_factor = round(max(1.0, REF_SPIN_RATE / spin), 3)
    q1_load_factor = (
        round(max(1.0, times["q1_pricing_summary"] / REF_Q1_SEC), 3)
        if "q1_pricing_summary" in times
        else None
    )
    # q1 tracks end-to-end contention better than the pure-CPU spin
    # (scheduler + memory-bandwidth pressure); normalize by it.
    norm = q1_load_factor or cpu_load_factor
    # Full per-query breakdown goes to a committed artifact; the final
    # stdout line stays compact so the driver's tail-capture window can
    # always parse it (BENCH_r02/r03 both arrived "parsed": null because
    # the 91-entry queries dict overflowed the tail buffer —
    # VERDICT_r03 item 2).
    full = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "value_normalized": round(total / norm, 3),
        "cpu_load_factor": cpu_load_factor,
        "q1_load_factor": q1_load_factor,
        "spin_rate": round(spin),
        "unit": "sec",
        "queries": times,
        "failed": failed,
        "sf": sf,
        "n_queries": len(times),
    }
    line = {k: full[k] for k in STDOUT_KEYS}
    line["queries"] = {k: times[k] for k in FLAGSHIP if k in times}
    line["full_breakdown"] = "BENCH_LOCAL.json"
    return full, line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from amorphous_mapreduce_spark import get_spark
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from perfbench.harness import run_pass

    spark = get_spark(app_name="amorphous-mapreduce-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = {name: QUERIES[name] for name in HEADLINE if name in QUERIES}

    # Warm each query's codegen/JIT at the smoke SF so the timed numbers
    # measure data-proportional work, not one-time plan compilation.
    # Warm-up failures are ignored; the timed pass records its own.
    run_pass(spark, queries, "/root/testdata/sf0.001", "warm")

    spin_before = spin_rate()
    timed = run_pass(spark, queries, sf_dir, "timed")
    spin_after = spin_rate()

    full, line = bench_records(timed["queries"], (spin_before + spin_after) / 2.0, sf)
    with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
