"""Automated physical-plan audit: every registered query, every scale red flag.

The 100 TB question ("would this plan survive 1000 executors?") is asked
per-query and answered from the *physical plan*, not from timing. This
tool builds each registered query, walks its executed plan with
``plans.trace.walk`` (AQE stages expanded, each cached sub-plan once,
subqueries included) and flags the node classes that break at scale:

  - ``CartesianProduct``            unbounded all-pairs join over data
  - ``Exchange SinglePartition``    everything through one task — benign
                                    only when it feeds a scalar aggregate,
                                    a global ordered limit or an ``Expand``
  - ``BroadcastNestedLoopJoin``     benign only when one side is a 1-row
                                    scalar (per-query allowlist, each
                                    entry carrying its justification)
  - ``BatchEvalPython``             row-at-a-time Python UDF in the plan
                                    (Arrow/pandas nodes are fine)

and records the good signals (scans with ``PushedFilters``, broadcast
joins, ``TakeOrderedAndProject`` top-k, Arrow Python nodes). Output: one
summary line per query, a JSON report at ``PLAN_AUDIT.json``, exit 1 on
any unexplained red flag.

Usage::

    python tools/plan_audit.py [sf_dir] [query ...]

With query names it audits and prints only those queries and writes
nothing; only a full run writes ``PLAN_AUDIT.json``.

Plans are built (not executed) at the given SF — builders that probe or
iterate (CC, k-means) do run their bounded loops, so the default SF is
the smallest fixture.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amorphous_mapreduce_spark.plans.trace import node_class, walk  # noqa: E402

# Queries whose plan legitimately contains a flagged node, with the
# reason it is scale-safe anyway. Every entry must say WHY.
ALLOW: dict[str, dict[str, str]] = {
    "ece_dup_calibration": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar cross (the "
        "(N, ece numerator) totals onto the 5-bin reliability table) — "
        "scalar-total pattern; candidates ride the banded LSH equi-join",
    },
    "lightweight_coreset": {
        "BroadcastNestedLoopJoin": "the 1-row MODEL frames (64-dim "
        "quantized-mean center, the (S) total, the (n) count) crossed "
        "onto the scoring scan, replicated across the persisted "
        "d2s frame's consumers in the BUILT plan — model-broadcast "
        "pattern (kmeans/similarity precedent); all data-sized joins "
        "are keyed and the top-m is TakeOrderedAndProject",
    },
    "speculative_decoding_acceptance": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar cross (the total "
        "token count N onto the bigram scoring stream) — scalar-total "
        "pattern; the model joins (unigram/bigram counts) are keyed "
        "equi-joins and every aggregate is keyed on source",
    },
    "optimal_partitioning_changepoints": {
        "Exchange SinglePartition": "the day-domain frame is CONSTANT "
        "size (~2400 rows at every SF — TPC-H's date span is fixed): "
        "the global row_number over days and the single-group DP "
        "kernel are the documented bounded-state one-kernel pattern "
        "(markov_removal_attribution precedent); the data-proportional "
        "work is one keyed daily aggregate",
    },
    "kv_block_cache_curve": {
        "BroadcastNestedLoopJoin": "the constant 8-row depth-level "
        "table crossed onto the doc scan (x<=8 bounded fan-out, "
        "prefix_cache_hits precedent), appearing once per branch of "
        "the persisted pref frame's two consumers",
    },
    "fleiss_kappa": {
        "BroadcastNestedLoopJoin": "ONE 1-row x 1-row scalar cross "
        "(the per-item-cells aggregate (a, nitems) joined to the "
        "per-category aggregate (c)) — the scalar-total pattern; all "
        "data-sized work is two keyed aggregates over the vote explode",
    },
    "t_closeness": {
        "BroadcastNestedLoopJoin": "two 1-row scalar crosses (the "
        "(n_total, m) aggregate onto the class x band grid, and the "
        "11-row global band table onto the class list) — scalar-total "
        "pattern; every window is partitioned by QI class over m bands",
    },
    "ndcg_by_lang": {
        "BroadcastNestedLoopJoin": "the 1-row BM25 scalar aggregate "
        "(N, total tokens, per-term df) crossed onto per-doc scores, "
        "replicated across the dcg/idcg branches of the BUILT plan — "
        "the bm25_ranking scalar-total pattern",
    },
    "team_draft_interleaving": {
        "BroadcastNestedLoopJoin": "the 1-row BM25 scalar aggregate "
        "(N, total tokens, per-term df) crossed onto per-doc scores, "
        "once per ranker variant — the bm25_ranking scalar-total "
        "pattern; both rank frames are then top-20 bounded",
    },
    "isotonic_dup_calibration": {
        "BroadcastNestedLoopJoin": "the (j, k) pool enumeration and the "
        "(i, pools) containment join run on the ~22-row LENGTH-BIN grid "
        "(value-domain, not data-sized) — the PAVA minimax identity is "
        "O(B^3) over a constant frame",
        "Exchange SinglePartition": "prefix/lag windows over the same "
        "~22-row bin grid plus the final ordered head — bounded by the "
        "value domain, pareto_abc_classes precedent",
    },
    "average_precision_dup": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar cross (the "
        "(n_pos, n) totals onto the quantized AP numerator) — "
        "scalar-total pattern",
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge over the score-group frame, once "
        "per running total, plus the 1-row scalars — bounded by "
        "cluster size (auc_dup_quality precedent)",
    },
    "mutual_nearest_pairs": {
        "BroadcastNestedLoopJoin": "the blocked exact-top-1 kernel's "
        "O(n_blocks^2) block-pair enumeration (the similarity_topk "
        "pattern), appearing once per self-join branch of the BUILT "
        "plan — both BNLJ sides are 16-row block-id frames",
    },
    "bcubed_cluster_eval": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar cross (the record "
        "count onto the quantized-numerator aggregate) — scalar-total "
        "pattern",
    },
    "semdedup_manifest": {
        "BroadcastNestedLoopJoin": "the 16-row IVF centroid table "
        "broadcast-crossed onto the corpus for assignment (the "
        "similarity_ivf_* pattern), replicated across the pair/count "
        "branches of the BUILT plan (persisted at runtime) — every "
        "BNLJ side is constant-bounded by the cell count",
    },
    "token_budget_waterfill": {
        "BroadcastNestedLoopJoin": "two 1-row scalar crosses (the "
        "(total, budget, m) aggregate and the (k, p_k) pivot scalar) "
        "onto the source frame — scalar-total pattern",
        "Exchange SinglePartition": "rank/prefix window over the "
        "SOURCE-count frame (vocabulary-sized, ~20 rows after the keyed "
        "aggregate; pareto_abc_classes precedent) plus the 1-row "
        "scalar aggregates",
    },
    "mcc_length_langid": {
        "BroadcastNestedLoopJoin": "two 1-row scalar crosses (the total "
        "count for the median pick, the chosen threshold onto the "
        "score-group frame) — scalar-total pattern",
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge over the score-group frame plus "
        "1-row scalars — bounded by cluster size (auc_dup_quality "
        "precedent)",
    },
    "dbscan_point_classes": {
        "BroadcastNestedLoopJoin": "ONE 1-row grid-axis scalar "
        "(floor(sqrt(n)/2)) crossed onto the point frame, replicated "
        "across the degree/core/border branches of the BUILT plan "
        "(persisted at runtime) — the lof_outliers pattern; all "
        "data-sized joins are (cx, cy) / id equi-joins",
    },
    "kdist_knee_eps": {
        "BroadcastNestedLoopJoin": "the 1-row grid-axis scalar and the "
        "1-row curve-endpoints frame crossed onto bounded frames — "
        "lof_outliers / scalar-total patterns",
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge for the global descending rank "
        "plus the 1-row endpoints aggregate — bounded by cluster size",
    },
    "sppmi_rank1_embedding": {
        "BroadcastNestedLoopJoin": "the 1-row total-pair-count scalar "
        "crossed onto the vocab-squared PMI frame — the standard "
        "scalar-total pattern; the adjacency self-join and margins are "
        "keyed equi-joins",
    },
    "lof_outliers": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar (the density-"
        "adaptive grid axis = floor(sqrt(n)/2)) crossed onto the point "
        "frame; it appears many times in the BUILT plan because the "
        "persisted cells frame's lineage is replicated across the "
        "knn/kdist/reach branches pre-execution — at runtime the cache "
        "materializes it once. All data-sized joins are (cx, cy) / id "
        "equi-joins with ~36 halo candidates per point",
    },
    "auc_dup_quality": {
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge over the score-group frame plus "
        "the final 1-row scalar aggregate — bounded by cluster size",
    },
    "rfm_cell_matrix": {
        "BroadcastNestedLoopJoin": "1-row scalar crosses only: the "
        "ref-date max and the customer-count n broadcast onto the "
        "customer frame (once per rank pass) — all data-sized work is "
        "the keyed customer aggregate + three distributed_prefix_sum "
        "passes",
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge, once per RFM dimension, plus the "
        "1-row scalars — bounded by cluster size, same as "
        "pareto_abc_classes / fair_share_allocation",
    },
    "fair_share_allocation": {
        "BroadcastNestedLoopJoin": "1-row scalar crosses only: the "
        "(total, n, cap) frame, the water-level rank k, the prefix-at-k "
        "lookup, and the assembled level — every data-sized step is the "
        "keyed demand aggregate + distributed_prefix_sum",
        "Exchange SinglePartition": "distributed_prefix_sum's "
        "O(#partitions) offset merge plus the 1-row scalar aggregates — "
        "bounded by cluster size, same as pareto_abc_classes",
    },
    "effect_heterogeneity_q": {
        "BroadcastNestedLoopJoin": "the 1-row Cochran-Q scalar "
        "aggregate crossed back onto the 5-row per-segment frame — "
        "the standard scalar-total pattern",
    },
    "error_rate_pchart": {
        "BroadcastNestedLoopJoin": "1-row grand-rate scalar crossed "
        "back onto the per-day frame for the control limits — the "
        "standard scalar-total pattern",
    },
    "group_sequential_obf": {
        "BroadcastNestedLoopJoin": "the 5-row LITERAL looks calendar "
        "range-joined (od < cut) onto orders — a constant-size "
        "broadcast side with a bounded x5 fanout by design (the "
        "constant-level explode pattern), plus the 5-row per-look "
        "arm join",
    },
    "fdr_bh_discoveries": {
        "Exchange SinglePartition": "the BH rank / m / k_max windows "
        "run on the post-aggregate 25-row per-brand frame (bounded by "
        "|brands|, a catalog constant) — all corpus-sized work is the "
        "keyed (brand, arm) moment aggregate upstream",
    },
    "bellman_ford_delta_frontier": {
        "BroadcastNestedLoopJoin": "the four 1-row per-round "
        "frontier-size proof aggregates crossed onto the final settled "
        "frame — constant 1-row broadcast sides; every relaxation round "
        "is a keyed equi-join + grouped MIN over the frontier",
    },
    "mmr_diverse_retrieval": {
        "BroadcastNestedLoopJoin": "the 1-row hash-chosen query vector "
        "broadcast-crossed onto the gallery for relevance scoring — the "
        "single-query retrieval pattern shared with qlm_retrieval; the "
        "greedy rounds run in one grouped kernel over the 30-candidate "
        "frame",
    },
    "coverage_greedy_docs": {
        "BroadcastNestedLoopJoin": "the five 1-row cum-coverage scalars "
        "crossed onto their round's 1-row pick — constant frames both "
        "sides; the per-round data work is the hash anti-join + "
        "TakeOrdered top-1 over the persisted shingle table",
    },
    "sequential_purchase_rules": {
        "BroadcastNestedLoopJoin": "1-row distinct-customer scalar "
        "crossed onto the brand-pair rule table (<= |brands|^2 rows) "
        "for the lift denominator — the standard scalar-total pattern; "
        "the A-before-B self-join itself is the equi hash join on cust",
    },
    "bm25_param_sweep": {
        "BroadcastNestedLoopJoin": "1-row corpus-scalar frame crossed "
        "onto per-doc stats, the constant 9-row (k1, b) grid exploded "
        "onto matched docs, and the 1-row relevance-count scalar on the "
        "combo scorecard — sweep/scorecard pattern (ivf_probe_sweep "
        "precedent)",
    },
    "heaps_law_fit": {
        "BroadcastNestedLoopJoin": "1-row doc-count scalar crossed onto "
        "the token and shingle streams for bucket assignment — the "
        "standard scalar-total pattern (vocab_growth precedent)",
    },
    "fellegi_sunter_weights": {
        "BroadcastNestedLoopJoin": "the two 1-row agreement-moment "
        "frames (match / non-match sufficient stats) crossed onto the "
        "constant 4-row feature list — scorecard pattern",
    },
    "shapley_lang_valuation": {
        "BroadcastNestedLoopJoin": "the constant 32-row subset-mask "
        "lattice non-equi-joined to the 5-row per-language moment dim "
        "(bit-membership predicate) + 1-row full-coalition scalar — "
        "all frames corpus-size independent",
    },
    "decayed_part_leaderboard": {
        "BroadcastNestedLoopJoin": "1-row max-day scalar crossed onto "
        "lineitem for the age computation + the 20-row finalist frame "
        "broadcast for the raw-rank dominance count — both sides "
        "bounded (scalar / LIMIT 20); the big aggregate only streams",
    },
    "hilbert_layout_audit": {
        "BroadcastNestedLoopJoin": "the constant 5-predicate panel "
        "crossed onto the <=192-row zone frame and one scan of lineitem "
        "(bounded 5x fan-out) — same scorecard pattern as "
        "zorder_layout_audit",
    },
    "zorder_layout_audit": {
        "BroadcastNestedLoopJoin": "1-row max-key scalar onto part + "
        "the constant 5-predicate panel crossed onto the 128-row zone "
        "frame and one scan of part (bounded 5x fan-out) — scorecard "
        "pattern",
    },
    "kendall_inversions_parts": {
        "BroadcastNestedLoopJoin": "level-table self-join on b1<b2 is "
        "CONSTANT-bounded (<= 64 buckets x |y-domain| rows broadcast) "
        "+ the 1-row sufficient-stat scalars crossed for the single "
        "output row; raw rows never pairwise",
    },
    "ransac_price_fit": {
        "BroadcastNestedLoopJoin": "the <=32-row candidate-line panel "
        "and 1-row winner/refit scalars crossed onto one pass of part "
        "— hash-panel pattern (quantization_recall precedent)",
    },
    "isotonic_return_rate": {
        "BroadcastNestedLoopJoin": "the PAVA max-min lattice: inequality "
        "joins over the CONSTANT 11-bin discount frame (B^3 <= 1331 "
        "rows) + the prev-bin monotonicity probe — all post-aggregate, "
        "data-size independent",
    },
    "sax_weekly_motifs": {
        "BroadcastNestedLoopJoin": "rank symbolization dominance join "
        "over the calendar-bounded weekly frame (~350 rows) + 1-row "
        "n_weeks / motif-max scalars crossed back — swap to the "
        "two-phase prefix-rank template past ~1e5 weeks",
    },
    "misra_gries_heavy_hitters": {
        "BroadcastNestedLoopJoin": "1-row scalars crossed back: the "
        "(k+1)-th-largest merged weight T and the Σt error bound onto "
        "the <=shards*k summary / top-15 output — scalar-total pattern",
    },
    "periodogram_weekly_power": {
        "BroadcastNestedLoopJoin": "1-row scalars: floor-mean mu onto "
        "the calendar-bounded daily grid (twice, once per period arm) "
        "and the total-power scalar onto the 2-row arm frame",
    },
    "naive_bayes_langid": {
        "BroadcastNestedLoopJoin": "the 5-row train-language frame "
        "fanned onto test token counts (constant-bounded classifier "
        "fan-out) + the 1-row vocab scalar crossed onto per-doc scores "
        "— standard scalar-total pattern",
    },
    "pca_variance_explained": {
        "BroadcastNestedLoopJoin": "three 1-row scalars (v'v, trace, "
        "n_dims) crossed onto the 1-row Rayleigh numerator — scalars "
        "meeting for the single output row",
    },
    "beam_search_decode": {
        "Exchange SinglePartition": "final beam_rank window runs on the "
        "k=3-row frontier (constant-bounded); per-step top-k cuts plan "
        "as distributed TakeOrderedAndProject",
    },
    "logrank_survival_test": {
        "BroadcastNestedLoopJoin": "triangular at-risk join runs over "
        "per-cohort duration HISTOGRAMS, bounded at 601 censored "
        "second-grain points x 2 cohorts regardless of data volume; "
        "plus the 1-row cohort-totals scalar crossed onto the 1-row "
        "test statistic",
    },
    "zone_map_skipping": {
        "BroadcastNestedLoopJoin": "1-row max-orderkey/shard-width "
        "scalar crossed onto the scan, and the constant 6-row predicate "
        "panel fanned onto zones and rows — scalar/spec patterns",
    },
    "brier_calibration_bins": {
        "BroadcastNestedLoopJoin": "1-row global-train-rate scalar "
        "crossed onto test rows as the unseen-brand fallback — standard "
        "scalar-total pattern",
    },
    "ddsketch_price_quantiles": {
        "BroadcastNestedLoopJoin": "1-row total / 3-row quantile-spec "
        "frames crossed onto the constant-bounded bucket frame (and the "
        "1-row merge proof onto 3 output rows) — scalar/spec patterns",
        "Exchange SinglePartition": "cumulative window + rank probes run "
        "on the bucket frame, O(8*log2(max_cents)) ~ 190 rows regardless "
        "of data volume — constant-bounded by construction",
    },
    "brand_association_rules": {
        "BroadcastNestedLoopJoin": "1-row basket-total scalar crossed "
        "onto the <=600-row (25 brands squared) rule frame for the "
        "SF-relative support threshold — standard scalar-total pattern",
    },
    "mi_lang_source": {
        "BroadcastNestedLoopJoin": "1-row corpus-total scalar crossed "
        "onto the |langs|x|sources| cell frame, then the three 1-row "
        "partial scorecards (MI, H(lang), H(source)) crossed together "
        "for the single output row — all sides constant-bounded",
    },
    "kneser_ney_bigrams": {
        "BroadcastNestedLoopJoin": "1-row bigram-type-total scalar "
        "crossed onto the shortlisted-context bigram frame — standard "
        "scalar-total pattern",
    },
    "markov_entropy_rate": {
        "BroadcastNestedLoopJoin": "1-row transition-total scalar "
        "crossed onto the |event_types| row frame — standard "
        "scalar-total pattern",
    },
    "sampled_join_cardinality": {
        "BroadcastNestedLoopJoin": "1-row exact-join-count scalar "
        "crossed onto the 1-row sampled-count frame — two scalars "
        "meeting for the final scorecard row",
    },
    "capture_recapture_actives": {
        "BroadcastNestedLoopJoin": "1-row horizon scalar (t0, t1) "
        "crossed onto events for the half-split — standard scalar-total "
        "pattern",
    },
    "littles_law_audit": {
        "BroadcastNestedLoopJoin": "calendar-bounded triangular carry "
        "join over the gap-filled day list (~tens of rows) + the 1-row "
        "session-totals scalar crossed onto the per-day integrals",
    },
    "nelson_aalen_hazard": {
        "CartesianProduct": "triangular suffix join over the "
        "month-indexed death frame — cardinality bounded by the "
        "calendar (~tens of rows), data-size independent",
        "BroadcastNestedLoopJoin": "same calendar-bounded frame on the "
        "risk-set and cumulative-hazard prefix joins",
    },
    "lsh_band_sweep": {
        "BroadcastNestedLoopJoin": "1-row true-pair-count scalar crossed "
        "onto the candidate frame before the 3-row width rollup — the "
        "standard scalar-total pattern",
    },
    "ivf_probe_sweep": {
        "BroadcastNestedLoopJoin": "constant-side crosses only: the "
        "16-row centroid broadcast (ivf assignment, as in "
        "similarity_ivf_*), the 4-row probe-level frame crossed onto "
        "candidates and onto the exact top-k, and the 16x16 block-pair "
        "enumeration inside the blocked exact kernel — every BNLJ side "
        "is constant-bounded",
    },
    "loo_source_influence": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar "
        "crossed onto the token frame and the 1-row grand-total crossed "
        "onto the 20-row source frame — standard scalar-total pattern "
        "(appears once more through the shared lineage re-read)",
    },
    "quantile_forecast_pinball": {
        "BroadcastNestedLoopJoin": "constant 3-row quantile list joined "
        "to the 7-row weekday rank frame on the computed ceil-rank "
        "equality — both sides constant-bounded",
    },
    "t_closeness_audit": {
        "BroadcastNestedLoopJoin": "bounded ~12-row balance-band frame "
        "crossed onto the #classes frame to build the CDF grid, plus "
        "the 1-row global-total scalar crossed twice — all constant "
        "sides",
        "Exchange SinglePartition": "global CDF prefix window over the "
        "bounded band frame (~12 rows, value-domain bounded, "
        "data-size independent)",
    },
    "kfold_cv_price_model": {
        "BroadcastNestedLoopJoin": "1-row total-moments scalar crossed "
        "back onto the 4-row fold-moment frame for the leave-fold-out "
        "subtraction — constant-size both sides",
    },
    "eb_return_rate_shrinkage": {
        "BroadcastNestedLoopJoin": "1-row beta-prior scalar (alpha, "
        "beta from the moment aggregate) crossed back onto the per-part "
        "rate frame — the standard scalar-total pattern",
    },
    "bigram_perplexity_gain": {
        "BroadcastNestedLoopJoin": "1-row joint-vocab-size scalar "
        "crossed onto the unigram and bigram count frames — the "
        "standard scalar-total pattern, once per entropy branch",
    },
    "curation_waterfall": {
        "BroadcastNestedLoopJoin": "1-row document-total scalar crossed "
        "onto the per-doc stage frame before the 5-row rollup",
    },
    "source_knockout_dup_yield": {
        "BroadcastNestedLoopJoin": "1-row pair-total scalar crossed back "
        "onto the #sources-row knockout frame",
    },
    "conformal_price_intervals": {
        "BroadcastNestedLoopJoin": "1-row scalar frames (fit "
        "coefficients, calibration count, qhat pick, test coverage) "
        "crossed back onto each split slice and the final assembly — "
        "every BNLJ side is exactly one row",
        "Exchange SinglePartition": "bucket-level prefix-sum window over "
        "the bounded floor(cent) residual histogram (#buckets <= price "
        "range, data-size independent) — the two-phase exact-selection "
        "pattern; plus the 1-row final assembly",
    },
    "jl_projection_distortion": {
        "BroadcastNestedLoopJoin": "constant 3-row offset list crossed "
        "onto the feature table to form the id+offset probe keys; the "
        "pair join itself is a keyed equi-join",
    },
    "near_dup_source_modularity": {
        "BroadcastNestedLoopJoin": "1-row pair-total scalar crossed back "
        "onto the #sources-row modularity frame — the standard "
        "scalar-total pattern",
    },
    "psi_value_stability": {
        "BroadcastNestedLoopJoin": "1-row period-totals scalar crossed "
        "onto the bounded value-band histogram and the 1-row final "
        "summary — constant-size sides",
    },
    "dsir_importance_weights": {
        "BroadcastNestedLoopJoin": "1-row target/raw token-total scalar "
        "crossed back onto the per-doc log-ratio frame — the standard "
        "scalar-total pattern (bucket joins themselves are keyed "
        "broadcasts)",
    },
    "unigram_surprisal_filter": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar "
        "crossed back onto the per-doc surprisal frame — the standard "
        "scalar-total pattern",
    },
    "lang_cross_entropy_matrix": {
        "BroadcastNestedLoopJoin": "constant 5-row language list crossed "
        "onto vocab-sized eval counts to enumerate (train, eval) pairs, "
        "plus the 1-row vocab-size scalar crossed onto the 25-row "
        "matrix — both sides constant-bounded",
    },
    "burrows_delta": {
        "BroadcastNestedLoopJoin": "per-source token totals (~20 rows) "
        "crossed with the broadcast constant 40-term panel to build the "
        "dense source x term frequency grid — constant-size both sides "
        "(appears once per re-read of the persisted grid lineage)",
    },
    "mann_whitney_u": {
        "BroadcastNestedLoopJoin": "the 50x50 quantity-histogram pair "
        "join (bounded 1..50 value domain, va > vb range condition) "
        "plus the 1-row totals scalar cross — constant-size all sides; "
        "the data-sized work is one map-side-combined groupBy",
    },
    "cohens_kappa": {
        "BroadcastNestedLoopJoin": "two 1-row scalar aggregates "
        "(totals x expected-agreement mass) crossed for the final "
        "kappa expression — the standard scalar-total pattern",
    },
    "map_at_10": {
        "BroadcastNestedLoopJoin": "one 1-row corpus-scalar frame "
        "(n_doc, n_tok, df) crossed onto per-doc BM25 rows per panel "
        "query — the bm25_ranking scalar pattern, once per of the 3 "
        "panel branches",
    },
    "qq_source_lengths": {
        "BroadcastNestedLoopJoin": "9-row decile frame broadcast-crossed "
        "onto the bounded distinct-length histogram (O(#lengths) rows) "
        "for order-statistic selection — constant-size small side",
    },
    "returns_root_cause": {
        "BroadcastNestedLoopJoin": "1-row corpus-total scalar crossed "
        "back onto the bounded discount x quantity cell grid (~66 rows)",
    },
    "cross_sell_matrix": {
        "BroadcastNestedLoopJoin": "1-row distinct-order-count scalar "
        "crossed back onto the bounded 25x25 brand-pair frame — the "
        "standard scalar-total pattern (same as basket_part_pairs)",
    },
    "acctbal_revenue_gains": {
        "BroadcastNestedLoopJoin": "1-row (n, total_cents) scalar "
        "aggregate crossed back onto ranked customers for decile "
        "assignment — the standard scalar-total pattern",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge over the O(#partitions) totals frame plus the 1-row "
        "scalar — bounded by cluster size, same as revenue_gini",
    },
    "embedding_power_iteration": {
        "BroadcastNestedLoopJoin": "1-row rescale-max scalar crossed "
        "onto the d-row (64) iterate vector each power step — "
        "constant-size both sides; the corpus-sized work is only the "
        "one Gram aggregate",
    },
    "prf_expanded_retrieval": {
        "BroadcastNestedLoopJoin": "1-row (n_doc, n_tok) corpus-scalar "
        "frame crossed onto per-(doc, term) rows in each of the two "
        "scoring passes (+ the base-scalar cross) — the bm25_ranking "
        "scalar pattern; terms/df frames are bounded by the 6-term "
        "query and broadcast hash-joined",
    },
    "embedding_threshold_sweep": {
        "BroadcastNestedLoopJoin": "inherits the blocked E·Eᵀ "
        "kernel's (tiny, O(n_blocks²/2)) block-id pair frames "
        "(same as embedding_near_dup); rows move via the keyed block "
        "join",
    },
    "haar_revenue_energy": {
        "BroadcastNestedLoopJoin": "1-row MIN-day anchor scalar "
        "crossed onto the calendar-bounded daily frame — the standard "
        "scalar-total pattern",
    },
    "segment_migration_matrix": {
        "BroadcastNestedLoopJoin": "1-row MAX-month scalar crossed "
        "onto per-(customer, month) tercile rows to exclude the "
        "boundary month — the standard scalar-total pattern",
    },
    "markov_removal_attribution": {
        "BroadcastNestedLoopJoin": "1-row full-variant conversion "
        "scalar crossed back onto the 5-row variant frame for the "
        "removal-effect ratio — constant-size both sides",
    },
    "quality_rule_cofire": {
        "BroadcastNestedLoopJoin": "1-row corpus-count scalar crossed "
        "onto the <= 6-row rule-pair frame for the lift denominator — "
        "the standard scalar-total pattern",
    },
    "decision_stump_dup": {
        "BroadcastNestedLoopJoin": "1-row (n, npos) class-total scalar "
        "crossed onto the value-domain-bounded split-candidate "
        "histogram — the standard scalar-total pattern",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge over the O(#partitions) totals frame — bounded by "
        "cluster size, same as revenue_gini",
    },
    "snm_vs_lsh_blocking": {
        "BroadcastNestedLoopJoin": "the scorecard is six 1-row scalar "
        "count aggregates crossed together — constant-size all sides, "
        "the standard scalar-total pattern",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge (SNM sort rank) over the O(#partitions) totals frame — "
        "bounded by cluster size, same as revenue_gini",
    },
    "cramers_v_association": {
        "BroadcastNestedLoopJoin": "1-row (n, level counts) scalar "
        "crossed onto the 5x5 contingency-cell frame — the standard "
        "scalar-total pattern",
    },
    "abc_xyz_matrix": {
        "BroadcastNestedLoopJoin": "1-row grand-total scalar crossed "
        "onto the part-dimension classification frame — the standard "
        "scalar-total pattern (same as pareto_abc_classes)",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge over the O(#partitions) totals frame — bounded by "
        "cluster size, same as pareto_abc_classes",
    },
    "trending_terms": {
        "BroadcastNestedLoopJoin": "1-row (n0, n1) half-total scalar "
        "crossed onto the vocab-sized count frame — the standard "
        "scalar-total pattern (same as source_unigram_divergence)",
    },
    "cents_digit_uniformity": {
        "BroadcastNestedLoopJoin": "1-row total scalar crossed onto "
        "the 10-row digit frame — constant-size both sides",
    },
    "rolling_origin_backtest": {
        "BroadcastNestedLoopJoin": "1-row max-day scalar into the "
        "constant 3-row fold frame, then that fold frame range-crossed "
        "onto the calendar-bounded daily test rows — both sides "
        "bounded by the calendar/fold constants",
    },
    "bloom_fpr_sweep": {
        "BroadcastNestedLoopJoin": "1-row frames only: the (probe, "
        "exact) scalar base, the per-size set-bit counts, and the "
        "collected bit arrays (<= 3|dim| positions) crossed onto the "
        "linear fact scan — the runtime-filter broadcast shape itself",
    },
    "dedup_method_venn": {
        "BroadcastNestedLoopJoin": "seven 1-row scalar count "
        "aggregates crossed into the scorecard (plus the blocked "
        "E·Eᵀ kernel's block-id pair frame) — constant-size crosses, "
        "same shape as snm_vs_lsh_blocking",
    },
    "qini_uplift_curve": {
        "BroadcastNestedLoopJoin": "1-row population-count scalar "
        "crossed onto ranked users for quintile assignment — the "
        "standard scalar-total pattern (same as acctbal_revenue_gains)",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge + the constant 5-row quintile cumulative window — "
        "bounded by cluster size / the quintile constant",
    },
    "near_dup_transitivity": {
        "BroadcastNestedLoopJoin": "crossJoin of the two 1-row scalar "
        "aggregates (wedge count x closed-wedge count) — both sides "
        "single rows by construction, the standard scalar-total "
        "pattern",
    },
    "part_rank_persistence": {
        "Exchange SinglePartition": "two distributed_prefix_sum offset "
        "merges (one per rank axis) over the O(#partitions) totals "
        "frame — bounded by cluster size, same as "
        "quality_length_rank_corr",
    },
    "neyman_allocation": {
        "BroadcastNestedLoopJoin": "1-row quantized-weight total "
        "crossed back onto the per-source strata frame (bounded by "
        "the source alphabet) — the standard scalar-total pattern",
    },
    "near_dup_assortativity": {
        "BroadcastNestedLoopJoin": "crossJoin of the two 1-row scalar "
        "aggregates (edge sufficient stats x node count) — both sides "
        "single rows by construction, the standard scalar-total pattern",
    },
    "zipf_octave_profile": {
        "BroadcastNestedLoopJoin": "1-row corpus-total scalar crossed "
        "back onto the <= 64-row octave frame — constant-size both "
        "sides, the standard scalar-total pattern",
    },
    "kmv_set_similarity": {
        "CartesianProduct": "source-pair grid: the distinct-source dim "
        "(tens of rows) non-equi self-joined on sa < sb — bounded by "
        "#sources\u00b2, never by data volume; all sketch joins are equi",
        "BroadcastNestedLoopJoin": "same source-pair grid when Spark "
        "plans the sa < sb self-join as a broadcast loop — both sides "
        "are the distinct-source dim",
    },
    "hybrid_rrf_retrieval": {
        "BroadcastNestedLoopJoin": "two 1-row broadcasts by construction: "
        "the BM25 corpus-scalar aggregate crossed onto per-doc rows and "
        "the single hash-chosen query vector crossed over the gallery "
        "with a non-equi self-exclusion — linear scans, no pair blowup",
    },
    "discount_return_separability": {
        "BroadcastNestedLoopJoin": "both BNLJs operate on the "
        "distinct-score histogram (O(#buckets) rows, 11 discount values; "
        "continuous scores would be fixed-width-binned first): the "
        "rank-cumulation inequality self-join and the 1-row (np, ntot) "
        "scalar crossed back — data volume never flows through either",
    },
    "ab_test_welch": {
        "BroadcastNestedLoopJoin": "crossJoin of the two 1-row per-arm "
        "sufficient-statistic aggregates — both sides are single rows by "
        "construction",
    },
    "langid_prf": {
        "BroadcastNestedLoopJoin": "the |langs|-row class list crossed "
        "with the langs² confusion matrix — both sides bounded by the "
        "label alphabet, never by data volume",
    },
    "revenue_gini": {
        "Exchange SinglePartition": "distributed_prefix_sum offset merge "
        "over the O(#partitions) totals frame plus the 1-row final "
        "scalar — bounded by cluster size, same as pareto_abc_classes",
    },
    "ams_f2_estimate": {
        "BroadcastNestedLoopJoin": "crossJoin of two 1-row scalar "
        "aggregates (exact F2 and the 16-counter square sum)",
    },
    "pareto_abc_classes": {
        "BroadcastNestedLoopJoin": "1-row grand-total scalar "
        "broadcast-crossed onto the classified parts frame",
        "Exchange SinglePartition": "distributed_prefix_sum offset merge "
        "— one window over the O(#partitions) per-partition totals frame "
        "(bounded by cluster size, not data), same as vocab_coverage",
    },
    "wasserstein_price_segments": {
        "Exchange SinglePartition": "distributed_prefix_sum's offset "
        "merge — one window over O(#partitions) rows (bounded by "
        "cluster size, not data), same as vocab_coverage",
    },
    "als_rank1_backtest": {
        "BroadcastNestedLoopJoin": "1-row scalar crosses only: the "
        "(n_users x n_items) count pair and the final SSE scorecard "
        "row — every data-sized step is a keyed join + grouped agg",
    },
    "pq_adc_recall": {
        "BroadcastNestedLoopJoin": "the 16-row constant query panel "
        "(TakeOrdered limit 16) broadcast-crossed onto the gallery code "
        "frame / raw gallery with a non-equi self-exclusion — fanout is "
        "16 x |gallery|, linear; codebooks and LUTs are constant-size "
        "broadcasts (same pattern as quantization_recall)",
    },
    "dtw_brand_similarity": {
        "BroadcastNestedLoopJoin": "the 25-row brand dimension crossed "
        "with the broadcast 12-row month table to zero-fill the series "
        "grid — a 300-row DIMENSION-bounded frame at any corpus size",
    },
    "prefix_cache_hits": {
        "BroadcastNestedLoopJoin": "the 3-row constant k table broadcast-"
        "crossed onto the document scan (x3 constant fanout, matryoshka/"
        "mixture pattern), appearing twice in the BUILT plan because both "
        "the pref and firsts branches re-expand the lineage pre-execution",
    },
    "woe_iv_scorecard": {
        "BroadcastNestedLoopJoin": "the 11-row discount-bin frame "
        "crossed with the 1-row (G, B) totals — scalar-total pattern",
        "Exchange SinglePartition": "the unpartitioned IV-total window "
        "over the 11-row bin frame (value-domain-bounded; "
        "pareto_abc_classes precedent)",
    },
    "tokenizer_parity": {
        "BroadcastNestedLoopJoin": "two 1-row x 1-row scalar crosses "
        "(lexicon stats x BPE token total x ULM token total) — the "
        "scalar-total pattern; each factor is a bounded-state kernel "
        "or map-side aggregate",
    },
    "pass_at_k_estimate": {
        "BroadcastNestedLoopJoin": "the per-task aggregate crossed with "
        "the broadcast 2-row constant k table — a x2 fanout (constant), "
        "immediately re-aggregated map-side",
    },
    "moe_routing_audit": {
        "BroadcastNestedLoopJoin": "the 8-row per-expert load table "
        "crossed with the 1-row token-count aggregate — scalar-total "
        "pattern; the data-sized work is one map-side-combined token "
        "aggregate",
    },
    "matryoshka_recall": {
        "BroadcastNestedLoopJoin": "the 32-row constant-size audit panel "
        "(TakeOrdered limit 32) crossed with a 3-row constant dims table, "
        "then broadcast-crossed over the gallery with a non-equi "
        "self-exclusion filter — fanout is 32 x 3 x |gallery|, linear in "
        "the corpus (quantization_recall pattern, dimension axis)",
    },
    "mixture_temperature_sweep": {
        "BroadcastNestedLoopJoin": "the 20-row per-source aggregate "
        "crossed with a 3-row constant tau table — everything after the "
        "first map-side-combined groupBy is constant-size",
    },
    "quantization_recall": {
        "BroadcastNestedLoopJoin": "the 32-row constant-size audit panel "
        "(TakeOrdered limit 32) broadcast-crossed over the gallery with a "
        "non-equi self-exclusion filter — fanout is 32 x |gallery|, "
        "linear in the corpus by construction",
    },
    "benford_audit": {
        "BroadcastNestedLoopJoin": "1-row scalar total (9-row digit "
        "frame aggregated) broadcast-crossed back onto the 9 digit rows "
        "— constant-size both sides",
    },
    "cms_join_size": {
        "BroadcastNestedLoopJoin": "crossJoin of two 1-row scalar "
        "aggregates (the 4-depth MIN estimate and the exact join count) "
        "— both sides are single rows by construction, no data volume "
        "flows through the BNLJ",
    },
    "important_suppliers": {
        "BroadcastNestedLoopJoin": "1-row global-total scalar aggregate "
        "crossed back onto per-supplier rows (VERDICT r1 fix: replaced the "
        "whole-frame window)",
    },
    "quality_length_rank_corr": {
        "Exchange SinglePartition": "two prefix-sum offset merges (one "
        "per rank axis), each over the O(#partitions) per-partition "
        "totals frame, plus the 1-row final scalar — bounded by cluster "
        "size (same pattern as vocab_coverage)",
    },
    "source_unigram_divergence": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar "
        "crossed onto the (source, word) count frame",
    },
    "curriculum_manifest": {
        "Exchange SinglePartition": "offset-merge window of the "
        "distributed prefix sum over the O(#partitions) per-partition "
        "totals frame — the corpus flows through the range-sorted "
        "parallel scan (same pattern as vocab_coverage)",
    },
    "vocab_coverage": {
        "Exchange SinglePartition": "offset-merge window of the "
        "distributed prefix sum runs over the O(#partitions) "
        "per-partition totals frame — bounded by cluster size, the "
        "vocabulary itself flows through the range-sorted parallel scan",
        "BroadcastNestedLoopJoin": "1-row token-total scalar and the "
        "3-row thresholds frame crossed onto the ranked vocab",
    },
    "pmi_bigrams": {
        "BroadcastNestedLoopJoin": "1-row bigram-total scalar (N for the "
        "lift numerator) crossed onto the vocab²-sized bigram-count frame",
    },
    "dunning_g2_collocations": {
        "BroadcastNestedLoopJoin": "same shape as pmi_bigrams: the 1-row "
        "bigram-total scalar (N for the contingency margins) crossed onto "
        "the vocab²-sized bigram-count frame",
    },
    "unigram_heldout_perplexity": {
        "BroadcastNestedLoopJoin": "1-row (V, N) train-vocabulary scalar "
        "crossed onto the held-out token stream; the data-sized joins are "
        "hash equi-joins (split map, vocab counts)",
    },
    "promo_revenue_share": {
        "BroadcastNestedLoopJoin": "1-row revenue-total scalar crossed back",
    },
    "source_mixing_weights": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar crossed back",
    },
    "tfidf_top_terms": {
        "BroadcastNestedLoopJoin": "1-row corpus-size scalar (N for idf) "
        "crossed onto term frequencies",
    },
    "err_at_10": {
        "BroadcastNestedLoopJoin": "bm25_ranking 1-row scalar cross, plus "
        "the triangular cascade-product join over the CONSTANT 10-row "
        "top-k frame",
    },
    "intrinsic_dim_twonn": {
        "BroadcastNestedLoopJoin": "block-pair generation of the blocked "
        "E·Eᵀ kernel (same as similarity_topk) — tiny block-id frames, "
        "row data moves through hash joins",
    },
    "bm25_ranking": {
        "BroadcastNestedLoopJoin": "1-row scalar frame (N, total tokens, "
        "per-term df) crossed onto per-doc term counts",
    },
    "lang_source_contingency": {
        "BroadcastNestedLoopJoin": "1-row corpus-count scalar crossed onto "
        "the (lang, source) cell frame",
    },
    "quality_dup_calibration": {
        "BroadcastNestedLoopJoin": "1-row quartile-edge scalar aggregate "
        "(3-element array) crossed back for bucket assignment",
    },
    "weekly_churn": {
        "BroadcastNestedLoopJoin": "1-row first-week scalar crossed back "
        "to exclude the week with no prior comparison",
    },
    "bootstrap_revenue_ci": {
        "BroadcastNestedLoopJoin": "1-row full-sample-mean scalar crossed "
        "onto the constant-size (100-row) resample-mean frame",
    },
    "watermark_lateness": {
        "BroadcastNestedLoopJoin": "block-sweep carry join over the "
        "arrival-block maxima frame (O(n/block_size) rows, block size "
        "scales with volume) — row-level events flow only through keyed "
        "windows",
    },
    "peak_concurrent_sessions": {
        "BroadcastNestedLoopJoin": "day-level carry join: both sides are "
        "the per-day aggregate whose cardinality is bounded by the "
        "calendar domain (#days), not by data volume — the boundary-event "
        "prefix sums themselves are keyed by day",
    },
    "above_avg_customers": {
        "BroadcastNestedLoopJoin": "1-row global-average scalar from an "
        "uncorrelated subquery",
    },
    "vocab_growth": {
        "BroadcastNestedLoopJoin": "1-row corpus-size scalar (max doc_id "
        "for integer bucket edges) crossed onto the token stream",
    },
    "key_skew_profile": {
        "BroadcastNestedLoopJoin": "1-row row-count-total scalar crossed "
        "back onto per-key counts for the share division",
    },
    "similarity_topk": {
        "BroadcastNestedLoopJoin": "block-pair generation joins the (tiny, "
        "O(n/block_size)^2) block-id frames, not row-level data; rows move "
        "via the keyed block join",
    },
    "hard_negative_mining": {
        "BroadcastNestedLoopJoin": "same blocked E·Eᵀ kernel as "
        "similarity_topk: the BNLJ pairs the O(n_blocks²) block frames, "
        "not row-level data",
    },
    "knn_label_agreement": {
        "BroadcastNestedLoopJoin": "inherits cosine_topk_blocked's (tiny, "
        "O(n/block_size)^2) block-id pair frame; rows move via the keyed "
        "block join",
    },
    "similarity_lsh_recall": {
        "BroadcastNestedLoopJoin": "inherits similarity_topk's block-id "
        "pair frame (the exact side of the recall join)",
    },
    "similarity_ivf_recall": {
        "BroadcastNestedLoopJoin": "inherits similarity_topk's block-id "
        "pair frame (the exact side of the recall join)",
    },
    "embedding_near_dup": {
        "BroadcastNestedLoopJoin": "upper-triangle block-id pair frame of "
        "the blocked E·Eᵀ tiling (O(b²/2) block rows, not row-level data)",
    },
    "gemm_coordinate": {
        "BroadcastNestedLoopJoin": "synthetic test-matrix generation "
        "(Range x Range fixture); the compute join is keyed on k",
    },
    "gemm_block": {
        "BroadcastNestedLoopJoin": "synthetic test-matrix generation "
        "(Range x Range fixture); block pairs join keyed on bk",
    },
    "kmeans_clusters": {
        "BroadcastNestedLoopJoin": "k-row centroid frame broadcast onto "
        "vectors each iteration — bounded by k, never data-sized",
    },
    "kmeans_silhouette": {
        "BroadcastNestedLoopJoin": "k-row centroid frame broadcast (same "
        "as kmeans_clusters; one more cross for the final all-centroid "
        "distance scoring — still bounded by k)",
    },
    "qlm_retrieval": {
        "BroadcastNestedLoopJoin": "1-row collection-statistics scalar "
        "(total tokens + per-term collection frequencies) crossed onto "
        "the per-doc frame — standard scalar-total pattern (same as "
        "bm25_ranking)",
    },
    "kmeans_cluster_sizes": {
        "BroadcastNestedLoopJoin": "k-row centroid frame broadcast (same "
        "as kmeans_clusters)",
    },
    "diversity_sample": {
        "BroadcastNestedLoopJoin": "k-row centroid frame broadcast (same "
        "as kmeans_clusters)",
    },
    "similarity_ivf_topk": {
        "BroadcastNestedLoopJoin": "k-row IVF centroid frame broadcast for "
        "cell assignment/probing — bounded by n_cells",
    },
    "basket_part_pairs": {
        "BroadcastNestedLoopJoin": "1-row total-basket-count scalar "
        "crossed onto the rule rows for the lift denominator",
    },
    "fuzzy_part_names": {
        "BroadcastNestedLoopJoin": "short-string fallback block of the "
        "q-gram join: distinct values shorter than q*(d+1)+1 chars crossed "
        "against their length band — bounded by the tiny short-value set "
        "(empty on this corpus), never corpus-sized",
    },
    "events_gap_fill": {
        "BroadcastNestedLoopJoin": "1-row MIN/MAX day-bounds aggregate "
        "crossed onto the distinct key set to build the |keys| x |days| "
        "time spine — never a per-row expansion of events",
    },
    "customer_acctbal_deciles": {
        "Exchange SinglePartition": "percentile_approx over the customer "
        "dimension is a scalar aggregate (keys=[]) computed via a 2-row "
        "grouping-set plan DuckDB can mirror; input is the ~SF*150k-row "
        "customer dim, not fact data",
    },
    "ks_two_sample": {
        "BroadcastNestedLoopJoin": "two 1-row scalars (sample totals, "
        "sup statistic) crossed back onto the per-value CDF frame",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge over the O(#partitions) totals frame plus the 1-row "
        "final scalar — bounded by cluster size, same as revenue_gini",
    },
    "revenue_changepoint": {
        "BroadcastNestedLoopJoin": "1-row (n, grand-total) scalar "
        "crossed onto the |days|-row prefix frame; 1-row max-score "
        "scalar joined back for the argmax",
        "Exchange SinglePartition": "distributed_prefix_sum offset "
        "merge over the O(#partitions) totals frame plus the 1-row "
        "final scalar — bounded by cluster size, same as revenue_gini",
    },
    "ndcg_retrieval": {
        "BroadcastNestedLoopJoin": "bm25_scores crosses its 1-row "
        "(N, total-tokens, per-term df) scalar aggregate back onto the "
        "per-doc frame (same as bm25_ranking)",
    },
    "kendall_tau_brands": {
        "BroadcastNestedLoopJoin": "inequality pair join over the "
        "~25-row brand aggregate (dimension-bounded, broadcast) plus "
        "the 1-row count scalar cross — never over line items",
    },
    "ivf_hard_negatives": {
        "BroadcastNestedLoopJoin": "k-row IVF centroid frame broadcast "
        "for cell assignment/probing (same as similarity_ivf_topk) — "
        "bounded by n_cells; the candidate join itself is a cell "
        "equi-join with capped occupancy",
    },
    "community_modularity": {
        "BroadcastNestedLoopJoin": "two 1-row scalar crosses (edge "
        "count m and the intra-community edge count) onto the 1-row "
        "degree aggregate — the modularity formula's scalar terms",
    },
    "global_transitivity": {
        "BroadcastNestedLoopJoin": "ONE 1-row scalar cross (the wedge "
        "count) onto the 1-row triangle aggregate",
    },
    "record_linkage_classify": {
        "BroadcastNestedLoopJoin": "the two 1-row Fellegi-Sunter "
        "agreement-scalar frames (mf/uf) broadcast onto the candidate "
        "pairs — model parameters, not data",
    },
    "ivf_hard_negative_recall": {
        "BroadcastNestedLoopJoin": "k-row IVF centroid broadcast (same "
        "as ivf_hard_negatives) plus the blocked exact-top-1 kernel's "
        "O(b²) block-pair cross (the documented exact baseline used as "
        "eval truth, same as similarity_lsh_recall)",
    },
}

FLAGGED = ("CartesianProductExec", "BroadcastNestedLoopJoinExec", "BatchEvalPythonExec")
# NOTE: WholeStageCodegen deliberately absent — pre-execution AQE plans
# carry no codegen nodes, so counting them here would always read 0 and
# imply something was measured that wasn't.
GOOD = {
    "broadcast_joins": ("BroadcastHashJoinExec",),
    "sort_merge_joins": ("SortMergeJoinExec",),
    "topk_take_ordered": ("TakeOrderedAndProjectExec",),
    "arrow_python": ("ArrowEvalPythonExec", "FlatMapGroupsInPandasExec",
                     "MapInPandasExec", "FlatMapGroupsInPandasWithStateExec"),
}
# Nodes between a SinglePartition exchange and its real consumer.
PASS_THROUGH = {"ProjectExec", "FilterExec", "WholeStageCodegenExec", "InputAdapter",
                "ColumnarToRowExec", "ShuffleQueryStageExec", "AQEShuffleReadExec"}
# Besides a scalar aggregate: a global ordered limit, or the grouping-set
# rewrite of a scalar aggregate (percentile plans).
SINGLE_ROW_SINKS = {"TakeOrderedAndProjectExec", "CollectLimitExec", "ExpandExec"}


def audit_plan(name: str, nodes: list) -> dict:
    """Flags and good signals of one plan, from the nodes of
    ``plans.trace.walk`` (each cached sub-plan once, subqueries included)."""
    classes = [node_class(n) for n, _ in nodes]
    parent = {d: i for i, (_, deps) in enumerate(nodes) for d in deps}

    def feeds_single_row_sink(i: int) -> bool:
        i = parent.get(i)
        while i is not None and classes[i] in PASS_THROUGH:
            i = parent.get(i)
        if i is None:
            return False
        if classes[i].endswith("AggregateExec"):
            return nodes[i][0].groupingExpressions().isEmpty()
        return classes[i] in SINGLE_ROW_SINKS

    bad_sp = sum(
        1
        for i, (n, _) in enumerate(nodes)
        if classes[i] == "ShuffleExchangeExec"
        and node_class(n.outputPartitioning()) == "SinglePartition"
        and not feeds_single_row_sink(i)
    )
    counts = {c.removesuffix("Exec"): classes.count(c) for c in FLAGGED}
    counts["Exchange SinglePartition"] = bad_sp
    flags = {k: v for k, v in counts.items() if v}

    good = {k: sum(map(classes.count, names)) for k, names in GOOD.items()}
    pushed = [
        n.metadata().get("PushedFilters")
        for (n, _), cls in zip(nodes, classes)
        if cls == "FileSourceScanExec"
    ]
    good["scans"] = len(pushed)
    good["scans_with_pushed_filters"] = sum(
        1 for p in pushed if p.isDefined() and p.get().strip("[] ")
    )

    allowed = ALLOW.get(name, {})
    unexplained = {k: v for k, v in flags.items() if k not in allowed}
    notes = [f"{k}: allowed — {allowed[k]}" for k in flags if k in allowed]
    return {"query": name, "flags": flags, "unexplained": unexplained,
            "good": good, "notes": notes}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from amorphous_mapreduce_spark.session import get_spark
    from perfbench.harness import release

    spark = get_spark()
    results = []
    n_red = 0
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            nodes = walk(df._jdf.queryExecution().executedPlan())
        except Exception as exc:  # builder failure is itself a finding
            results.append({"query": name, "error": str(exc)[:300]})
            n_red += 1
            print(f"ERROR  {name}: {exc}")
            continue
        finally:
            release(spark)  # the builders' eager jobs may cache frames
        r = audit_plan(name, nodes)
        results.append(r)
        if r["unexplained"]:
            n_red += 1
            print(f"RED    {name}: {r['unexplained']}")
        elif r["flags"]:
            print(f"ok*    {name}: allowlisted {list(r['flags'])}")
        else:
            g = r["good"]
            print(
                f"ok     {name}: bhj={g['broadcast_joins']} smj={g['sort_merge_joins']}"
                f" scans={g['scans']}"
                f" pushed={g['scans_with_pushed_filters']}"
            )

    if only:
        # A subset run only prints: PLAN_AUDIT.json is written by full runs
        # alone, so none of its rows is older than the others.
        print(f"\n{len(results)} queries audited, {n_red} red")
        return 1 if n_red else 0
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_red": n_red,
        "results": results,
    }
    with open("PLAN_AUDIT.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nwrote PLAN_AUDIT.json: {len(results)} queries, {n_red} red")
    return 1 if n_red else 0


if __name__ == "__main__":
    sys.exit(main())
