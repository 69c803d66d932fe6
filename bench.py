#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Output: the per-query timings are written to bench_queries.json and
printed as one JSON line, then as '#'-prefixed comment lines; the LAST
stdout line is ONE short machine-parseable JSON object:
  {"metric": "headline_total", "value": N, "unit": "sec", "sf": ...,
   "n_queries": K, "queries_file": "bench_queries.json"}

Execution is forced through the noop sink (full materialization of every
output column — count() would let Catalyst prune the very expressions we
want to measure).  First run of the session pays JVM+codegen warmup; we
run a small warmup query first so per-query numbers reflect steady state.

Each query runs $SPARK_GRAFT_BENCH_N times (default 3) and reports the
MINIMUM — wall-clock on a shared machine is noisy upward only (r02's
across-the-board 1.5-2.9× "regression" on untouched queries was load on
the harness host; min-of-n makes the number reproducible).

HEADLINE coverage policy (round 8, VERDICT r7 item 6): every operator
FAMILY — a query's first registry tag — must have at least one
representative in HEADLINE, chosen as the family's most plan-interesting
member; families of near-identical trivial variants (the seven set-ops,
the two scalar batteries) are represented by ONE delegate rather than
every permutation, and a query is also added when it is individually
expensive or exercises a distinct physical plan (iterative, streaming,
global rank) even if its family is already covered.  Enforced by
``tests/test_bench_headline.py::test_every_family_represented`` — adding
a query with a brand-new first tag without benching it fails that test.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_sessionization",
    "agg_pricing_summary",
    "join_multiway_revenue",
    "join_left_order_items",
    "window_rank_topn_per_group",
    "json_extract_agg",
    "dedup_minhash_lsh",
    "dedup_exact_fingerprint",
    "ann_bruteforce_topk",
    "text_quality_scores",
    "streaming_session_window",
    # production streaming shape: append mode + watermark eviction to files
    "streaming_tumbling_append",
    # iterative + MLlib workloads, so regressions in the driver-loop CC and
    # RF training paths are visible round-over-round
    "dedup_clusters",
    "ml_intent_rf_metrics",
    # round-5 temporal + curation operators (all sub-second at sf0.1)
    "asof_join_nearest_event",
    "range_join_attribution",
    "hypertable_rollup_events",
    "sample_hash_stratified",
    "pack_token_budget_bins",
    "embedding_quantize_int8",
    # round-5 layout / analytics / quality operators
    "zorder_code_events",
    "vocab_top_ngrams",
    "dq_constraint_audit",
    "funnel_ordered_stages",
    "cohort_retention_daily",
    # round-6 TPC-H representatives, one per plan family: scan-agg (q6),
    # join-heavy top-k (q3), profit expression over 5 tables (q9),
    # distribution-of-distribution (q13), semi-join-of-aggregate (q18),
    # aggregated EXISTS/NOT-EXISTS rewrite (q21)
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "tpch_q9_product_type_profit",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_supplier",
    # round-6 curation/quality additions: the corpus-LM double shuffle and
    # the md5-per-position map kernel — both throughput-bound text passes
    "quality_unigram_logprob",
    "mask_span_corruption",
    # graph family representative: exercises the bounded pair-explosion
    # edge build + degree aggregation (pagerank/triangles share the same
    # edge pipeline and are benched ad hoc — 6.5/6.6 s at sf0.1, dominated
    # by the 1.2M-edge wedge/contribution shuffles, costs inherent to the
    # graph size rather than plan shape)
    "graph_degree_distribution",
    # round-6 late additions: Spark 4 surfaces (variant parse-once,
    # Python Data Source generator), path mining's user-keyed lead
    # window, the EWMA collect_list fold, multi-probe LSH, and the
    # left-outer stream-stream join's state machinery
    "variant_semi_structured",
    "path_common_journeys",
    "timeseries_ewma_by_user",
    "ann_lsh_multiprobe_topk",
    "streaming_interval_join_left",
    "pyds_clickstream_gen_agg",
    # round-6 curation/analytics additions: OOV needs the corpus token
    # stream twice (vocab build + coverage join), batching is the pow2
    # window shuffle, transitions reuse the user-keyed lead window, PSI
    # is a single fact-table pass
    "vocab_oov_rate",
    "batch_length_buckets",
    "path_transition_matrix",
    "drift_psi_bins",
    # last round-6 batch: both reduce the fact table to a driver-sized
    # aggregate in one keyed pass
    "forecast_seasonal_naive",
    "abtest_conversion_lift",
    "mix_budget_select",
    # Spark 4 DataSketches: theta set-algebra + day->total KLL merge fold
    "sketch_theta_set_ops",
    "sketch_kll_value_quantiles",
    # sliding-distinct DAU/WAU via the bounded covered-day explode
    "retention_dau_wau",
    "cohort_ltv_curve",
    # SemDeDup: cluster-blocked within-cluster cosine pair scan + keep rule
    "dedup_semantic_clusters",
    # embedding-space train/eval leakage audit (same blocking machinery)
    "decontaminate_semantic_pairs",
    # Spark 4 frequent-items sketch with exactness contract
    "sketch_topk_frequent_events",
    # BM25 lexical retrieval: broadcast term filter, integer-micro scoring
    "retrieval_bm25_topk",
    # small-file compaction rewrite + preservation audit (table maintenance)
    "maintenance_compact_files",
    # CDC snapshot reconciliation: fingerprinted full-outer diff
    "diff_snapshot_customers",
    # MAD robust outlier flags: order-statistic median/MAD, no division
    "anomaly_mad_outliers",
    # first/last-touch attribution via purchase-epoch window segmentation
    "attribution_first_last_touch",
    # in-plan closed-form OLS: BIGINT cent moments, two final divisions
    "regression_daily_revenue_trend",
    # RFM quintiles via three in-plan global ranks
    "rfm_customer_segments",
    # chi-square independence: portable weekday, micro-quantized terms
    "abtest_chi_square_mix",
    # conversion-latency percentiles: exact order statistics via rank op
    "funnel_conversion_latency",
    # Gini revenue concentration: exact BIGINT Lorenz moments
    "inequality_gini_revenue",
    # Holt level+trend: two-state mirrored fold, exact float diff
    "timeseries_holt_trend",
    # Mann-Whitney U: tie-midranks as doubled BIGINTs, exact half-integer U
    "abtest_mann_whitney_values",
    # Kruskal-Wallis H: ordered-fold scalar sum, BIGINT tie correction
    "abtest_kruskal_wallis",
    # daily session health: bounce rate / depth / duration on one exchange
    "session_daily_metrics",
    # Jensen-Shannon per-source token drift on the bounded top-K vocab
    "drift_js_source_tokens",
    # equi-depth decile profile via the rank operator, exact cents
    "profile_decile_order_totals",
    # PMI collocations: bounded K^2/2 pair grid, quantized ln
    "text_pmi_collocations",
    # temperature-weighted mixture resampling via hash thresholds
    "mix_temperature_resample",
    # matryoshka truncation audit: order-exact folds on a stride probe
    "embedding_matryoshka_audit",
    # heuristic-scorer threshold sweep: exact confusion matrices x 5
    "ml_threshold_sweep",
    # inter-event gap histogram: integer bit-length buckets, no floats
    "timeseries_gap_histogram",
    # round-7: the notebook EDA report — one multi-agg pass + stack unpivot
    # (ml_rf_quality_contract's RF path is already benched via
    # ml_intent_rf_metrics; re-training it here would double that cost.
    # ml_tuning_grid_contract is excluded for the same reason: its 4 RF
    # fits re-train the very sweep the contract audits)
    "eda_events_report",
    # Kaplan-Meier conversion survival: user rollup + day-grid prefix folds
    "survival_kaplan_meier",
    # CUSUM level-shift detector: daily rollup + 5-slot mirrored vector fold
    "anomaly_cusum_shift",
    # Benford leading-digit audit: exact-cents digit map + 9-row aggregate
    "dq_benford_leading_digit",
    # PPS length-weighted sampling: hash-threshold decisions, map-only
    "sample_weighted_pps",
    # hash k-fold assignment: one hash per row + (fold, lang) audit
    "ml_fold_assignment",
    # positional skip-gram pairs: join-free indexed-array fan-out + vocab cut
    "text_skipgram_pairs",
    # per-language tokenizer fertility: two regex token kernels, one pass
    "tokenizer_fertility_by_lang",
    # keep-best-quality canonical selection: fingerprint-keyed rank window
    "dedup_keep_best_quality",
    # engagement calibration: user rollup + bucket aggregate + scalar lift
    "ml_engagement_calibration",
    # content-addressed binary dedup: codegen sha2, digest-only shuffle
    "multimodal_binary_dedup",
    # bucketed co-located join: write-time bucketing, exchange-free SMJ
    "layout_bucketed_join",
    # curriculum tertiles: in-plan global rank + phase aggregate
    "curriculum_phase_assignment",
    # U-shaped attribution: ppm-integer credit over the epoch machinery
    "attribution_position_weighted",
    # label centroids: distributed micro-int dim sums + tiny fold-cosine
    "embedding_label_centroids",
    # KS two-sample: value-domain cell table + BIGINT CDF cumsums
    "abtest_ks_statistic",
    # 24h-bounded funnel: three chained keyed aggregations
    "funnel_time_bounded",
    # day-partitioned write + pruned one-day scan (PartitionFilters pin)
    "layout_partition_pruned_scan",
    # MERGE upsert: one keyed left join + anti-join, change-class audit
    "maintenance_merge_upsert",
    # association rules: join-free basket pair fan-out + exact-ratio lift
    "basket_association_rules",
    # dow-adjusted anomalies: date rollup + 7-row broadcast stats join
    "anomaly_dow_adjusted",
    # growth accounting: one distinct + user-keyed lag window + date rollup
    "retention_growth_accounting",
    # per-doc keywords: WindowGroupLimit top-3 after term-df window
    "text_doc_keywords",
    # int8 recall audit: two brute passes (fp + dequantized), broadcast q
    "embedding_int8_recall_audit",
    # hour-of-week heatmap: one date rollup, 168 rows
    "eda_hour_of_week_heatmap",
    # uniqueness profile: one multi-distinct aggregation + stack unpivot
    "eda_uniqueness_profile",
    # WoW revenue growth: integer epoch-week rollup + tiny lag window
    "revenue_wow_growth",
    # top-share concentration: one user rollup + in-plan global rank
    "inequality_top_user_share",
    # langid confusion audit: map-only argmax + confusion-cell aggregate
    "quality_langid_mismatch",
    # the 4-stage curation funnel as one chained plan (3 keyed shuffles)
    "pipeline_curation_accounting",
    # per-source entropy: one (source, token) shuffle + nano-grid terms
    "text_source_entropy",
    # ABC/Pareto: fact-side join shuffle + ~25-row cumulative window
    "abc_brand_revenue",
    # repeat-purchase cadence: user lag window + rank-op order statistics
    "repeat_purchase_intervals",
    # quartile migration: two per-half rank passes + full-outer matrix
    "segment_migration_matrix",
    # fulfillment SLA: order-keyed join + priority-keyed rank window
    "ops_fulfillment_lag_by_priority",
    # sequential patterns: customer-keyed bounded self-join + confidence
    "basket_sequential_patterns",
    # Welch t: one 6-sum scan reduction over two arms
    "abtest_welch_ttest",
    # Spearman rho: one cell rollup, domain-sized rank windows + joins
    "agg_spearman_rank_corr",
    # ACF lags 1-7: daily grid self-join on day arithmetic
    "timeseries_acf_daily",
    # rolling r: calendar RANGE frame over the daily grid
    "window_rolling_corr",
    # connected components: iterative label propagation to convergence
    "graph_connected_components",
    # runtime pushdown: dim keys as an IN data-source filter on the fact
    "layout_runtime_key_pushdown",
    # hapax/TTR: one token rollup, vocabulary-sized tail
    "text_hapax_ratio",
    # dim moments: quantized posexplode scan, 64-row output
    "embedding_dim_variance",
    # FK audit: 7 distinct-key orphan joins as one union job
    "dq_referential_integrity",
    # incremental rollup: partial-state union + merge re-aggregation
    "maintenance_incremental_agg",
    # backlog sweep-line: order-keyed max + month-grid cumsum
    "ops_open_orders_backlog",
    # seasonality: one month-grid reduction, 12-row index
    "timeseries_monthly_seasonality",
    # forward as-of: one-shuffle union+window, mirrored frame
    "asof_join_forward_event",
    # Zipf slope: bounded top-200 grid, quantized ln OLS
    "text_zipf_slope",
    # weighted median: domain-bounded cells + per-flag cumsum
    "agg_weighted_median",
    # Theil-Sen: day-grid pair fan-out, exact order-statistic median
    "timeseries_theilsen_slope",
    # mode: domain-bounded cells, rank-1 window per flag
    "agg_mode_value",
    # Naive Bayes: postings-sized score join, exact quantized-ln counting
    "ml_naive_bayes_langid",
    # streaks: gaps-and-islands, user-keyed window only
    "retention_longest_streak",
    # rolling median: day-grid range self-join, exact order statistic
    "timeseries_rolling_median",
    # PIT lookup: equi-join + validity residual, broadcast dim
    "scd2_point_in_time_lookup",
    # Theil index: user rollup + quantized-ln term sum
    "inequality_theil_index",
    # reconciliation: two monthly rollups meet in one month-key join
    "dq_revenue_reconciliation",
    # HHI: supplier rollup + decimal squared moments
    "inequality_hhi_supplier",
    # date dim: generated calendar broadcast + quarter rollup
    "date_dimension_quarter_rollup",
    # percent-of-parent: 25-row hierarchy windows after one fact reduction
    "agg_percent_of_parent",
    # bitmasks: keyed bit_or + 31-row mask distribution
    "agg_bitmask_event_types",
    # radius search: broadcast queries x corpus, threshold on rounded cos
    "ann_range_search",
    # BFS: frontier rounds = eccentricity, one-round lineage
    "graph_bfs_distances",
    # k-anonymity: one QI rollup, one summary row
    "privacy_k_anonymity",
    # bot regularity: one user-keyed lag window + keyed moments
    "quality_bot_regularity",
    # business days: closed-form weekend exclusion, no calendar explode
    "ops_business_days_lag",
    # Neyman: one stratum-moment rollup, 20-row allocation
    "sample_neyman_allocation",
    # burstiness: one (term, doc) rollup, top-100 moments
    "text_term_burstiness",
    # basket histogram: order-keyed count + bounded rollup
    "eda_basket_size_histogram",
    # Fisher F: quantized per-(label, dim) moments, 1e-9-grid term sums
    "embedding_fisher_separability",
    # drawdown: daily grid cumsum + running max, one argmax row
    "timeseries_max_drawdown",
    # equi-width histogram: integer bucket rule, bounds broadcast
    "profile_equiwidth_histogram",
    # streaming top-k: engine-computed counts, tiny batch rank on top
    "streaming_windowed_topk",
    # custom stateful operator: the applyInPandasWithState (Arrow-batched
    # per-key state machine) plan — no other bench entry exercises it
    "streaming_custom_sessionization",
    # stateful streaming dedup: the dropDuplicatesWithinWatermark plan,
    # distinct from the windowed-agg streaming entries above
    "streaming_dedup",
    # ALS quality contract: the iterative ALS train + factor audit +
    # recall@10 path — the only bench entry exercising MLlib's ALS
    "ml_als_quality_contract",
    # round-8 family delegates (coverage policy above): one representative
    # per first-tag family that had none — all sub-second relational/scalar
    # shapes, benched so no operator family is perf-invisible
    "skew_salted_join",          # salting: the skew mitigation itself
    "proj_filter_revenue",       # projection+filter pushdown baseline
    "case_when_bucketing",       # CASE expression chain
    "null_impute_coalesce",      # null semantics / coalesce imputation
    "string_funcs",              # string expression battery
    "sort_by_aggregate",         # sort-after-agg (post-shuffle order)
    "math_funcs",                # scalar math expression battery
    "array_explode_tokens",      # explode + posexplode lateral shape
    "unpivot_lineitem_measures", # stack/unpivot reshape
    "chunk_long_documents",      # fixed-size document chunking
    "date_parts_agg",            # datetime extraction + group
    "set_union_all",             # set-op family delegate
    # round-9 additions
    "dedup_exact_substring_shingles",  # winnowed substring dedup (r10 rewrite)
    "text_ngram_novelty",        # cross-doc first-seen trigram audit
    "text_ttr_by_source",        # per-source type-token ratio
    "stats_kendall_tau_cells",   # tau-b via value-domain cell reduction
    "stats_cramers_v",           # categorical association (chi² / V)
    "window_pctrank_cumedist",   # tie-aware distribution-position pair
    "embedding_norm_outliers",   # per-label 3-sigma L2-norm audit
    "timeseries_stl_lite",       # trend/seasonal/residual day-grid split
    "stats_anova_oneway",        # parametric F over exact cent moments
    "quality_bigram_logprob",    # interpolated bigram-LM fluency score
    "ann_ivf_nprobe_recall_curve",  # probe-depth -> recall tuning sweep
    "ml_kmeans_quality_contract",   # 4th MLlib contract (KMeans floors)
    # round-10 additions
    "dedup_against_signature_index",  # persisted-index anti-join dedup
    "dedup_substring_pair_overlap",   # winnowed-fp pair ranking, df-capped
    "decontaminate_substring_winnow", # char-level benchmark contamination
    "text_heaps_law_fit",             # vocab-growth OLS across sources
    "embedding_anisotropy_audit",     # pair-free avg pairwise cosine
    "curation_dup_rate_by_quality_band",  # dup share per quality band
    "stats_mann_kendall_monthly",     # exact-integer trend test
    "ml_logreg_quality_contract",     # 5th MLlib contract (LR, 2-class)
    "dedup_containment_pairs",        # overlap-coefficient subset dedup
    "quality_perplexity_buckets",     # CCNet-style LM perplexity bands
    "session_gap_histogram",          # inter-event gap mix (threshold evidence)
    "timeseries_changepoint_cusum",   # integer-exact CUSUM changepoint
    "stats_runs_test",                # Wald-Wolfowitz runs z
    "retrieval_rrf_hybrid_topk",      # BM25+cosine RRF fusion
    "text_code_like_share",           # code-vs-prose routing heuristic
    "graph_modularity_brands",        # Newman Q of a given partition
    "multimodal_byte_entropy",        # already-compressed detector
    "timeseries_acf_lags",            # ACF 1-14, exact DECIMAL moments
    "graph_assortativity",            # endpoint-degree Pearson r
    "sketch_count_min_contract",      # CMS one-sided-error contract
    "sketch_hll_distinct_contract",   # HLL + sketch-union merge contract
    "stats_levene_variance",          # Brown-Forsythe W (ANOVA guard)
    "dedup_near_against_band_index",  # persisted MinHash band-index probe
    # round-12 additions
    "ann_ivf_against_posting_index",  # persisted IVF index, DPP probe
    "streaming_scd2_dimension",       # versioned CDC fold, oracle since r12
    "drift_against_persisted_baseline",  # frozen-histogram PSI probe
    # round-13 additions
    "dedup_band_index_incremental_append",  # gen-partition index append, no rebuild
    "streaming_frozen_scoring",       # frozen-model foreachBatch scoring, append
    "dedup_band_index_tombstone_delete",  # logical index delete, O(|wave|) write
    "streaming_band_index_ingest",    # stream-paced index maintenance, idempotent
    # round-14 additions
    "dedup_band_index_compaction",    # fold gens+tombstones, band-clustered rewrite
    "ann_ivf_posting_index_append",   # gen-partition ANN index append, O(|wave|)
    # round-15 additions
    "ann_ivf_posting_index_tombstone_delete",  # O(|delete set|) ANN tombstones
    "ann_ivf_posting_index_compaction",  # fold gens+tombstones, list-clustered rewrite
    # round-16 additions
    "streaming_ivf_posting_index_ingest",  # stream-paced ANN index maintenance
    "privacy_l_diversity",            # sensitive-attribute homogeneity audit
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from big_data_analytics_project_spark.registry import load_all
    from big_data_analytics_project_spark.session import get_spark

    registry = load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, codegen, parquet footer caches, and the Python worker
    # pool (Arrow stages pay ~seconds of one-time fork+import otherwise)
    registry["sort_by_aggregate"].fn(spark, sf_dir).count()
    spark.range(1000).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # one untimed pass over the headline list: JIT/codegen for every
    # query's operator mix (window, session_window, MLlib, Arrow) warms
    # before any timed sample.  The tiny warmup above doesn't cover them,
    # so the FIRST query in pass 1 (flagship) was absorbing the residual
    # JVM warmup of the whole list — r5's flagship "+31%" tracked the
    # list growing 14→25 queries, not any plan change (the query and its
    # physical plan are unchanged since r4; repeated runs converge to
    # ~0.6 s).  Timed numbers now reflect steady state for every query.
    for name in HEADLINE:
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    # full passes over the query list (not back-to-back repeats): transient
    # host-load spikes then hit at most one of a query's n samples, so the
    # per-query min is robust to it
    timings = {name: float("inf") for name in HEADLINE}
    for _ in range(n_runs):
        for name in HEADLINE:
            spec = registry[name]
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
            # dedup pipelines persist their (small) results; drop them so
            # repeat runs measure compute, not cache accumulation
            spark.catalog.clearCache()
    timings = {name: round(t, 3) for name, t in timings.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Per-query timings go to bench_queries.json and to one JSON line;
    # the '#'-prefixed lines are for reading, and the LAST stdout line is
    # the short headline JSON, so a tail-only reader still parses it.
    detail = {
        "metric": "per_query",
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "bench_queries.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True))
    for name in HEADLINE:
        print(f"# {name}: {timings[name]}")
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries_file": "bench_queries.json",
            }
        )
    )


if __name__ == "__main__":
    main()
