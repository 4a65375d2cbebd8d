"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is forced with the `noop` sink (full pipeline runs, nothing
collected to the driver) — measures engine throughput, not toPandas.

Each query runs $SPARK_GRAFT_REPEATS times (default 5), with passes
INTERLEAVED across the query list; the reported per-query time is the
MEDIAN and the headline value is the sum of medians. Run-to-run
variance on a shared box is ±30% — a single sample is noise.

The [min, max] spread per query is NOT printed (r03's summary line
outgrew the driver's tail capture and the round's artifact came back
unparseable); it is written to `BENCH_SPREAD_r{N}.json` at the repo
root instead, round-stamped off the existing BENCH_r*.json artifacts,
so "regressed vs noisy" stays decidable from committed files while the
stdout line stays compact.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocean_data_pipeline_spark.queries import load_all  # noqa: E402
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

#: Headline set: one per operator family; keep stable across rounds so
#: BENCH_r{N}.json trends are comparable. Names absent from the registry
#: are skipped (lets this file lead implementation).
HEADLINE = [
    "monthly_series",
    "q1_pricing",
    "revenue_by_nation",
    "top_orders",
    "latest_order_per_customer",
    "monthly_revenue_delta",
    "sessionize_events",
    "dedup_exact_documents",
    "text_stats",
    "minhash_bands",
    "sim_topk_bruteforce",
    "asof_policy_join",
    # round-1 additions (new operator families; additive so earlier
    # entries stay comparable across rounds)
    "cube_revenue",
    "salted_join_segments",
    "doc_fingerprint_rolling",
    "token_counts_bpe",
    "embedding_near_dup",
    "sim_topk_ivf",
    "stream_tumbling_counts",
    "shipping_priority",
    "local_supplier_volume",
    # round-1 late additions
    "events_type_profile",
    "winnow_shared_pairs",
    "order_priority_late_ship",
    "nation_volume_shipping",
    "small_qty_order_revenue",
    "large_order_customers",
    # round-1 final additions
    "min_cost_supplier",
    "sole_late_supplier",
    "disjunctive_promo_revenue",
    "chunk_documents",
    "pack_token_budget",
    "near_dup_components",
    # TPC-H sweep completion (q6/q8/q10 shapes; full 22-family coverage)
    "forecast_revenue_change",
    "nation_market_share",
    "returned_item_customers",
    # round-3 additions: e2e dedup chain, SQL-string surface, real
    # media header decode
    "dedup_pipeline_end2end",
    "sql_revenue_by_nation",
    "multimodal_features",
    # round-3 late additions
    "winnow_robust_census",
    "stratified_sample_events",
    "value_histogram_events",
    "stream_join_funnel_outer",
    "asof_nearest_event",
    "repeated_ngrams",
    "corpus_curation_funnel",
    # round-4 additions
    "bloom_join_urgent_revenue",
    "pii_redaction_census",
    "benchmark_decontamination",
    "source_mixture_report",
    "sim_topk_pq",
    "span_dedup_census",
    "quality_decile_filter",
    "zipf_token_slope",
    "session_concurrency_profile",
    "split_leakage_audit",
    "perplexity_filter_unigram",
    "label_centroid_confusion",
    "monthly_climatology",
    "climatology_anomalies",
    "training_example_pipeline",
    "revenue_trend_by_nation",
    "char_entropy_quality",
    "haversine_nearby",
    "time_weighted_avg",
    "contamination_ngram_sweep",
    "fuzzy_name_pairs",
    "gopher_repetition_filter",
    "lexical_quality_rules",
    "tokenizer_fertility",
    "bigram_perplexity_interp",
    "mixture_temperature_weights",
    "minhash_jaccard_calibration",
    "nucleus_vocab_census",
    "weighted_sample_deterministic",
    "ngram_novelty_census",
    "doc_length_percentile_trim",
    "event_funnel_conversion",
    "weekly_retention_cohorts",
    "event_value_run_lengths",
    "peak_event_per_user",
    "minhash_band_tuning_curve",
    "dsir_importance_weights",
    "semantic_dedup_cells",
    "event_type_markov_transitions",
    "sql_funnel_conversion",
    "stream_funnel_stages",
    "sql_grouping_sets_revenue",
    "cluster_balanced_sampling",
    "cell_label_purity",
    "events_hourly_heatmap",
    "ship_latency_percentiles",
    "multimodal_av_metadata",
    "daily_ohlc_bars",
    "order_percentile_ranks",
    "lineitem_corr_stats",
    "nation_top_balances_array",
    "order_frame_values",
    "sql_exists_customers",
    # round-5 additions: one per new family (graph, incremental/SCD2,
    # interval, timeseries, layout, full-outer join-grid completion)
    "copurchase_triangle_census",
    "incremental_agg_merge",
    "scd2_priority_history",
    "shipment_overlap_pairs",
    "fiscal_window_rollup",
    "ewma_monthly_revenue",
    "compaction_plan",
    "full_outer_nation_presence",
    # round-6 additions: one per new family (lexical retrieval, exact
    # set-similarity join, portable sketch, skyline, k-core)
    "bm25_topk",
    "prefix_filter_jaccard_join",
    "countmin_heavy_hitters",
    "pareto_skyline_orders",
    "kcore_copurchase",
    "kmv_distinct_estimate",
    "poisson_bootstrap_ci",
    "welch_ttest_event_values",
    "kmv_set_operations",
    "leakage_safe_group_split",
    "stream_countmin_user_events",
    "mannwhitney_u_event_values",
    "association_rules_copurchase",
    "ols_price_regression",
    "nb_lang_signal_probe",
    "ks_test_price_by_year",
    "kaplan_meier_user_lifetime",
    # wave 7: governance, time-series diagnostics, graph/recommender,
    # event attribution, provenance, layout advisor, spatial clustering
    "benford_digit_census",
    "mahalanobis_outliers",
    "k_anonymity_census",
    "acf_monthly_revenue",
    "cusum_changepoint",
    "locf_forward_fill",
    "bfs_reachability",
    "item_item_cosine_topk",
    "attribution_credit",
    "session_path_topn",
    "url_domain_census",
    "encoding_advisor",
    "impute_missing_values",
    "grid_hotspot_clusters",
    "sql_filter_clause_agg",
    "erasure_propagation_census",
    "cdc_apply_changes",
    "candidate_key_profile",
    "mann_kendall_trend",
    "seasonal_indices_monthly",
    "frequent_triples_apriori",
    "rfm_segmentation",
    "gini_customer_spend",
    "market_concentration_hhi",
    "abc_pareto_classes",
    "psi_drift_price",
    "interval_coverage_days",
    # wave 9/10: VARIANT, Python DataSource connector, fuzzy matching,
    # ML primitives, media plumbing, DTW, BPE training, source drift
    # (the two sql_recursive_* CTE demos moved to SPREAD_ONLY — see
    # below)
    "variant_props_profile",
    "pyds_sensor_feed_profile",
    "edit_distance_name_join",
    "snm_near_dup_pairs",
    "decision_stump_totalprice",
    "leadlag_crosscorr_events",
    "token_js_divergence",
    "video_frame_sample",
    "image_resize_nn",
    "dtw_nation_profiles",
    "bpe_learn_merges",
    # wave 11: record linkage, calibration/encoding, portable HLL,
    # exact shape/order statistics, rank correlation, inequality
    # decomposition, conformal intervals, spatial containment
    "jaro_winkler_toppairs",
    "simhash_hamming_pairs",
    "isotonic_calibration_pava",
    "hll_portable_distinct",
    "skew_kurtosis_exact",
    "weighted_median_price",
    "conformal_interval_calibration",
    "spearman_rank_correlation",
    "theil_index_decomposition",
    "point_in_polygon_census",
    # wave-11 late batches: ER composite, LM smoothing, CBO statistics,
    # survival hazard, causal/experimentation, streaming sketch state
    "er_pipeline_end2end",
    "kneser_ney_bigram_ppl",
    "equi_depth_histogram",
    "join_cardinality_audit",
    "nelson_aalen_hazard",
    "diff_in_diff_estimator",
    "chao1_vocab_richness",
    "stream_hll_registers",
    # waves 16-20: corpus eval (contamination, embedding compression,
    # retrieval metrics), stats (KW/BH-FDR/Theil-Sen/Holt/PACF),
    # training-loader audits, MMR, spectrum, layout pruning, isotropy
    "contamination_ngram_census",
    "matryoshka_prefix_quality",
    "embedding_int8_quant_error",
    "retrieval_metrics_eval",
    "kruskal_wallis_event_values",
    "bh_fdr_segment_tests",
    "holt_linear_smoothing",
    "length_bucketing_efficiency",
    "epoch_shuffle_balance",
    "mmr_diversified_topk",
    "periodogram_monthly",
    "zonemap_pruning_audit",
    "embedding_isotropy_audit",
    "pacf_durbin_levinson",
    # waves 21-24: graph cohesion, forecast eval, mutual matching,
    # FD repair audit, aggregate-only GLMs, EB pooling, Zipf, causal
    "clustering_coefficient_census",
    "forecast_backtest_mape",
    # reciprocal_nn_pairs is deliberately exact-quadratic (mutual
    # top-1 over ALL pairs) — registered + verified, but not a
    # headliner: its n² scan would dominate the wall-clock total
    # without measuring anything the scored-scan headliners don't.
    "fd_violation_census",
    "poisson_glm_irls",
    "logistic_glm_irls",
    "eb_shrinkage_segments",
    "zipf_slope_fit",
    "sql_lateral_topn_per_region",
    "propensity_stratified_ate",
    "gaussian_kde_grid",
    "runs_test_monthly",
    "jackknife_ratio_variance",
    # wave 25: portmanteau/normality/variance-homogeneity tests,
    # bipartite HITS, exact quantile selection on the distributed rank
    # device, repetition census, seasonal MK, dedup economics, norm audit
    "ljung_box_monthly",
    "jarque_bera_price",
    "brown_forsythe_event_values",
    "hits_bipartite_authorities",
    "exact_percentile_cutpoints",
    "doc_repetition_census",
    "seasonal_mann_kendall",
    "dedup_savings_census",
    "embedding_norm_audit",
    # wave 26: BI/lifecycle analytics, corpus-mixing diagnostics,
    # effect sizes, GROUP BY ALL surface
    "open_order_backlog_monthly",
    "clv_cohort_matrix",
    "new_vs_returning_monthly",
    "sql_group_by_all",
    "grouped_percentile_bands",
    "cramers_v_matrix",
    "source_ngram_overlap",
    "length_drift_by_source",
    "mixed_language_margin",
    # wave 27: RANGE frames, Lorenz deciles, burstiness, datasheet,
    # link prediction, Holt-Winters
    "rolling_30day_revenue",
    "lorenz_curve_deciles",
    "user_interevent_burstiness",
    "corpus_datasheet",
    "holt_winters_additive",
    # wave 28: regularized regression, readability, t-closeness
    "ridge_price_regression",
    "readability_census",
    "t_closeness_census",
    # wave 29 (round 8): econometric depth + robust regression
    "adf_unit_root_lite",
    "ccf_lead_lag",
    "newey_west_se",
    "hurst_exponent_rs",
    "quantile_regression_lad",
    # wave 30 (round 8): partition quality, exact inference, robust +
    # spectral regression, symbolic/drift series
    "modularity_brand_partition",
    "fisher_exact_monthly",
    "mcnemar_doc_rules",
    "huber_regression_irls",
    "sax_monthly_revenue",
    "page_hinkley_revenue",
    "pca_axis_lineitem",
    # wave 31 (round 8): nonparametric blocks, robust model search,
    # extreme values, SPC, stylometry
    "friedman_nations_monthly",
    "ransac_line_fit",
    "gumbel_block_maxima",
    "process_capability_cpk",
    "imr_control_chart",
    "burrows_delta_sources",
    # wave 32 (round 8): forecasting, multiresolution, changepoints,
    # agreement, collinearity
    "theta_method_forecast",
    "haar_energy_monthly",
    "binseg_changepoint_monthly",
    "cohens_kappa_rules",
    "partial_correlation_lineitem",
    "vif_lineitem_regressors",
    # wave 33 (round 8): eval-ops + embedding-ops depth
    "knn_label_noise_audit",
    "binary_embedding_quant",
    "pass_at_k_estimator",
    "bradley_terry_nations",
    "ece_reliability_bins",
    "chunk_overlap_census",
    # wave 34 (round 8): journeys, ts features, feature ranking,
    # inventory, resampling
    "absorbing_chain_steps",
    "trend_seasonal_strength",
    "information_gain_ranking",
    "newsvendor_quantile",
    "permutation_test_lite",
    # round 9: the enforced-hub-cap link prediction (the exact twin
    # stays SPREAD_ONLY below as its recall yardstick)
    "link_prediction_capped",
]

#: Measured and recorded in the spread file but EXCLUDED from the
#: headline total (VERDICT r06 item 7): the recursive-CTE demos are
#: legitimate SQL-surface exercises whose cost is UnionLoop depth x
#: job-submit overhead — sf-INVARIANT (SCALE.md: capped_recursion 4.1x
#: at 10x data), so their ~47 s masks real movement in the scalable
#: operators the headline total is meant to track.
SPREAD_ONLY = [
    "sql_recursive_capped_balance",
    "sql_recursive_holt_smoothing",
    # exact common-neighbor scoring enumerates the full wedge mass
    # (Σ deg² ≈ 160M at sf0.1) by design — the same
    # honest-exact-at-eval-scale posture as reciprocal_nn_pairs; the
    # adjacency-list rewrite halved it (123 s → ~60 s) but it would
    # still dominate the headline total without measuring anything the
    # other graph headliners don't. The 100-TB-shape twin with the
    # ENFORCED per-node cap, link_prediction_capped, IS a headline
    # query (round 9); this exact version stays as its recall
    # yardstick.
    "link_prediction_scores",
]


def _spread_path(repo_root: str) -> str:
    """Round-stamped side-file path for the [min,max] spread.

    The driver records `BENCH_r{N}.json` AFTER bench.py runs, so the
    current round is one past the highest existing artifact. Falls back
    to an unstamped name outside a driver checkout.
    """
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json"))
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p)))
    ]
    if not rounds:
        return os.path.join(repo_root, "BENCH_SPREAD.json")
    # Never clobber a committed spread artifact: if the driver skipped a
    # round (no BENCH_r{N}.json) the max+1 stamp can collide with an
    # existing spread file from that round — bump past any that exist.
    n = max(rounds) + 1
    while os.path.exists(os.path.join(repo_root, f"BENCH_SPREAD_r{n:02d}.json")):
        n += 1
    return os.path.join(repo_root, f"BENCH_SPREAD_r{n:02d}.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    registry = load_all()
    names = [n for n in HEADLINE if n in registry] or sorted(
        n for n in registry if n not in SPREAD_ONLY
    )
    headline_set = set(names)
    names = names + [n for n in SPREAD_ONLY if n in registry]
    spark = get_spark("bench")

    # Warm the JVM + parquet footers once so per-query timings measure
    # steady-state execution, not session startup. (The tail-phase child
    # below warms its own query list instead.)
    if os.environ.get("SPARK_GRAFT_TAIL_PHASE") != "1":
        registry[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # INTERLEAVED repeats: run the whole query list once per pass
    # instead of back-to-back samples per query, so a box-noise burst
    # (GC, another tenant) lands on different queries in different
    # passes rather than poisoning all samples of one query — the
    # failure mode that made r02 look like per-query regressions.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "5")))
    samples: dict[str, list[float]] = {name: [] for name in names}
    import gc

    def _unpersist_all() -> None:
        # Per-QUERY hygiene (round 12, VERDICT r11 item 3a): a
        # SYNCHRONOUS unpersist of every persistent RDD. Measured round
        # 9: GC alone does NOT reclaim leftover localCheckpoint blocks in
        # time (the ContextCleaner is async — LP stayed 53-61 s after
        # gc.collect + System.gc), but this unpersist recovers most of
        # the inflation (60.7 -> 43.7 s vs ~35 s isolated-warm; the
        # residue is session aging that no cleanup reverses, documented
        # in ROUND_NOTES). Unpersist is safe here: every query builds its
        # own plan from the parquet scans, so no cross-query state is
        # shared. The r11 per-pass cadence let checkpoint/storage state
        # accumulate over the ~268-query pass and grow across repeats —
        # the driver's r27 spread shows medians far above clean minima
        # (link_prediction_capped [9.57, 21.33] median 15.0 vs 9.6
        # clean; huber [2.97, 7.65]). A per-query FULL _hygiene was
        # measured too (BENCH_SPREAD_r30): the big aged queries
        # recovered (lp_capped 15.0 -> 11.0) but the per-query
        # System.gc consistently taxed multi-small-job queries ~0.5-1 s
        # (association_rules 2.5 -> 3.5, frequent_triples 3.4 -> 4.4,
        # dtw 2.8 -> 3.6), so the full-GC half stays per pass.
        try:
            jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
            it = jmap.iterator()
            while it.hasNext():
                it.next()._2().unpersist(True)
        except Exception as e:
            # If the py4j Scala-map iteration breaks (e.g. a Spark
            # upgrade), hygiene silently degrading to GC-only would
            # shift bench numbers across rounds with no signal
            # (ADVICE r09) — warn once so the drift is attributable.
            if not getattr(_unpersist_all, "_warned", False):
                _unpersist_all._warned = True
                print(
                    f"bench: unpersist hygiene unavailable ({type(e).__name__}: {e}); "
                    "falling back to GC-only — in-pass numbers may inflate",
                    file=sys.stderr,
                )

    def _hygiene() -> None:
        # Session hygiene between measurement blocks: unpersist, then GC.
        _unpersist_all()
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # Host-normalization canary (VERDICT r09 item 3): the same code
    # measured 402 -> 481 s across four same-day runs under shared-host
    # CPU pressure, so raw round-over-round totals are +/-10 % noise.
    # A fixed 5-query block timed at pass start and end gives every
    # artifact a same-host yardstick: compare rounds via
    # total / mean(canary) rather than raw totals. Queries chosen to
    # span the engine (scan+agg, near-dup join, stateful stream twin,
    # catalog advisor, ER pipeline) while staying cheap (<10 s total).
    canary_names = [n for n in (
        "q1_pricing", "embedding_near_dup", "stream_hll_registers",
        "encoding_advisor", "er_pipeline_end2end",
    ) if n in registry]

    def _run_canary() -> dict[str, float]:
        # untimed warm pass first: the start-of-run block would otherwise
        # measure JIT/codegen/footer warm-up (observed 45.9 s cold vs
        # 11.3 s steady-state), not host load — both blocks must sample
        # the same steady state for the ratio to mean anything
        for name in canary_names:
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _hygiene()
        per: dict[str, float] = {}
        for name in canary_names:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            per[name] = round(time.perf_counter() - t0, 3)
        _hygiene()
        return per

    headline_names = [n for n in names if n in headline_set]
    tail_names = [n for n in names if n not in headline_set]

    # SPREAD_ONLY tail phase for a CHILD process (see below): time only
    # the tail in this fresh JVM and print the samples as one JSON line.
    if os.environ.get("SPARK_GRAFT_TAIL_PHASE") == "1":
        for name in tail_names:  # warm pass (JIT, parquet footers)
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _hygiene()
        for _ in range(repeats):
            for name in tail_names:
                t0 = time.perf_counter()
                registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
                # FULL hygiene per query here, unlike the headline loop:
                # the tail is 3 memory-heavy queries (288 M-wedge census,
                # recursive CTEs) where a clean heap before each sample
                # measured strictly better and tighter (BENCH_SPREAD_r30
                # scores 15.4 [15.3,15.5] vs _unpersist_all-only r31
                # 25.9 [18.2,31.4]); the multi-small-job tax of per-query
                # GC does not apply to this list.
                _hygiene()
        print(json.dumps({"tail_samples": {n: samples[n] for n in tail_names}}))
        return

    canary_start = _run_canary()

    # Hygiene cadence (round 12, VERDICT r11 item 3a): synchronous
    # unpersist PER QUERY, full GC per pass. Cleaning OUTSIDE the timed
    # window makes every sample measure the query's own computation
    # from the parquet inputs — the isolated-warm condition a real
    # per-job deployment sees — instead of the previous queries'
    # leftover checkpoint blocks. Timed window itself is unchanged;
    # see _unpersist_all for the cadence A/B evidence.
    for _ in range(repeats):
        for name in headline_names:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            _unpersist_all()
        _hygiene()

    # Third canary point at the headline/SPREAD_ONLY boundary (VERDICT
    # r10 item 6): start/end alone can't distinguish monotone host
    # drift (r21: 13.7 -> 22.9) from depth-of-warm recovery (r20:
    # 14.8 -> 11.5); mid locates which block a drift hit.
    canary_mid = _run_canary()

    # Run the SPREAD_ONLY heavy tail in a FRESH subprocess (fresh JVM +
    # SparkContext), adopted from the round-10 A/B (VERDICT r09 item 8):
    # after ~270 queries x 5 passes the session ages in ways no unpersist
    # + GC reverses, inflating the tail 6-14 % over fresh-session-warm
    # (measured: link_prediction_scores 25.7 in aged pass vs 24.2 fresh,
    # sql_recursive_holt 38.4 vs 33.0, capped_balance 14.7 vs 12.9).
    # The child runs the same interleaved discipline and reports raw
    # samples; on any failure the tail falls back to in-proc so the
    # artifact never loses those rows.
    if tail_names:
        tail_samples: dict[str, list[float]] | None = None
        try:
            import subprocess

            # Peak-memory note (ADVICE r10): during this phase TWO
            # 16g-driver local[32] JVMs are resident (the idle parent +
            # the child). Budget ~2x the single-run footprint; the
            # parent is deliberately NOT stopped — canary_end must run
            # in the same aged JVM as canary_start/mid for the
            # host-drift ratio to stay like-for-like across rounds.
            env = dict(os.environ, SPARK_GRAFT_TAIL_PHASE="1")
            # Shrink the idle parent before the child starts: a full
            # _hygiene (unpersist + double GC) lets the parent's heap
            # uncommit so the child's memory-heavy queries aren't
            # squeezed by a bloated neighbor (round 12 — the r31 run
            # without this showed the child's wedge census at 25.9 s
            # vs 15.4 s with an aggressively-GC'd parent).
            _hygiene()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, stdout=subprocess.PIPE, text=True,
                # a hung child JVM (stateful-streaming queries have
                # deadlocked before) must not block the definitive
                # bench forever; 4 h >> the ~8 min the tail takes
                timeout=4 * 3600,
            )
            if proc.returncode != 0:
                print(
                    f"bench: tail subprocess exited {proc.returncode}; "
                    "falling back to in-proc tail", file=sys.stderr,
                )
            for ln in reversed(proc.stdout.splitlines()):
                if ln.startswith("{"):
                    got = json.loads(ln)["tail_samples"]
                    if set(got) == set(tail_names):
                        tail_samples = got
                    break
        except Exception as e:  # noqa: BLE001
            print(f"bench: tail subprocess failed ({type(e).__name__}: {e})",
                  file=sys.stderr)
        if tail_samples is None:
            print("bench: running SPREAD_ONLY tail in-proc (aged session) — "
                  "tail numbers may inflate 6-14 %", file=sys.stderr)
            for _ in range(repeats):
                for name in tail_names:
                    t0 = time.perf_counter()
                    registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples[name].append(time.perf_counter() - t0)
                    _hygiene()  # per query — see the tail-phase loop
        else:
            samples.update(tail_samples)
    canary_end = _run_canary()
    canary = {
        "queries": canary_names,
        "start": canary_start,
        "mid": canary_mid,
        "end": canary_end,
        "start_total": round(sum(canary_start.values()), 3),
        "mid_total": round(sum(canary_mid.values()), 3),
        "end_total": round(sum(canary_end.values()), 3),
    }

    # actual core count this run: defaultParallelism reflects the real
    # local[N] master (or cluster topology); the env var is what was asked
    cpus_used = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    default_parallelism = spark.sparkContext.defaultParallelism

    timings = {name: round(statistics.median(s), 3) for name, s in samples.items()}
    spread = {name: [round(min(s), 3), round(max(s), 3)] for name, s in samples.items()}
    # headline value = scalable ops only; SPREAD_ONLY medians live in
    # the spread file (and the summary dict) but not the total
    total = round(sum(t for n, t in timings.items() if n in headline_set), 3)
    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf

    repo_root = os.path.dirname(os.path.abspath(__file__))
    spread_path = _spread_path(repo_root)
    try:
        with open(spread_path, "w") as f:
            json.dump(
                {"spread": spread, "medians": timings, "repeats": repeats,
                 "sf": sf_num, "total_of_medians": total,
                 # bench hygiene (VERDICT r07 item 7): discovery runs —
                 # anything not executed on an otherwise-idle box under
                 # the definitive-bench discipline — must be marked so
                 # round-over-round comparisons stay like-for-like.
                 # Export SPARK_GRAFT_BENCH_DISCOVERY=1 for such runs.
                 "discovery": os.environ.get(
                     "SPARK_GRAFT_BENCH_DISCOVERY", ""
                 ).lower() in ("1", "true", "yes"),
                 "canary": canary,
                 "spread_only": [n for n in names if n not in headline_set]},
                f, indent=1,
            )
            f.write("\n")
    except OSError as e:  # read-only checkout: keep the summary line alive
        print(f"bench: could not write spread file {spread_path}: {e}",
              file=sys.stderr)

    # Compact summary LAST, as the final stdout line. Driver
    # tail-capture contract: the captured tail is the LAST 2000 chars
    # of stdout (measured from BENCH_r01-03 artifacts: tail_len 2000;
    # r03 went unparseable because its line outgrew that window), so
    # the ENTIRE line must fit in a hard budget. With 100+ headline
    # queries the full medians dict no longer fits: keep the SLOWEST
    # queries (the ones a perf reader needs first), drop the fastest
    # until the line fits, and say how many were omitted — the full
    # medians and [min,max] spread live in the committed spread file.
    def summary_line(q: dict[str, float], omitted: int) -> str:
        payload = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            # `queries` is the slowest-N REPORTING WINDOW, not the run
            # set: every one of n_queries_total ran and is in the
            # full_timings spread file; entries here are dropped
            # cheapest-first only to fit the 2000-char tail capture.
            # A query missing from this dict was BENCHED, not dropped.
            "queries": q,
            "repeats": repeats,
            "sf": sf_num,
            # contract self-description (VERDICT r11 item 2): the bench
            # honors $SPARK_GRAFT_CPUS via session.get_spark local[cpus];
            # echo what this run actually used so flat low/high-core
            # ratios on driver-bound queries aren't misread as the env
            # var being ignored.
            "cpus": cpus_used,
            "defaultParallelism": default_parallelism,
            "n_queries_total": len(timings),
            # host-load yardstick: normalize cross-round totals by the
            # mean of these two fixed-block timings (full per-query
            # canary detail lives in the spread file)
            "canary_start": canary["start_total"],
            "canary_end": canary["end_total"],
        }
        if omitted:
            payload["queries_omitted"] = omitted
            payload["full_timings"] = os.path.basename(spread_path)
        return json.dumps(payload, separators=(",", ":"))

    budget = 1900  # < 2000-char tail window, with margin for a trailing \n
    by_cost = sorted(timings, key=lambda n: (-timings[n], n))
    keep = dict(timings)
    line = summary_line(keep, 0)
    while len(line) > budget and by_cost:
        dropped = by_cost.pop()  # cheapest remaining query
        keep.pop(dropped)
        line = summary_line(keep, len(timings) - len(keep))
    print(line)


if __name__ == "__main__":
    main()
