"""Physical-plan audit: print `explain(formatted)` for the headline
queries and check the plan properties the 100 TB posture depends on.

Checks (see PLANS.md for the rationale):
- parquet scans carry PushedFilters / a pruned ReadSchema where the
  query filters/projects (predicate pushdown + column pruning reached
  the source);
- dimension joins are BroadcastHashJoin (no shuffle of the fact side);
- top-k compiles to TakeOrderedAndProject (no global sort);
- no CartesianProduct anywhere an equi-join was declared;
- WholeStageCodegen spans cover the hot expressions (no accidental
  Python/row fallbacks in JVM-path queries).

Usage: python tools/explain_audit.py [query ...]   (default: audit set)
Exit code 1 if any REQUIRE fails.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ocean_data_pipeline_spark.queries import load_all  # noqa: E402
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: query -> (must-contain fragments, must-NOT-contain fragments).
#: Note: formatted explain of an unexecuted AdaptiveSparkPlan does not
#: render WholeStageCodegen spans, so JVM-side-ness is asserted as the
#: ABSENCE of Python eval operators (BatchEvalPython / ArrowEvalPython /
#: MapInPandas would appear if an expression fell off the codegen path).
AUDIT: dict[str, tuple[list[str], list[str]]] = {
    # pushdown reached the scan + column pruning (7 of 16 lineitem cols)
    "q1_pricing": (
        ["PushedFilters: [IsNotNull(l_shipdate)", "ReadSchema: struct<l_quantity"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "revenue_by_nation": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "top_orders": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    "semi_join_customers": (["LeftSemi"], ["CartesianProduct"]),
    "anti_join_customers": (["LeftAnti"], ["CartesianProduct"]),
    "latest_order_per_customer": (["Window"], ["CartesianProduct"]),
    "monthly_series": (["Scan parquet"], ["CartesianProduct", "BatchEvalPython"]),
    "dedup_exact_documents": (["Scan parquet"], ["CartesianProduct", "BatchEvalPython"]),
    "minhash_bands": ([], ["BatchEvalPython"]),  # hashing must stay JVM-side
    "sim_topk_ivf": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    # point lookup: key predicate is a computed sha2 expression (cannot
    # push to parquet) but column pruning must hold — 2 of 9 orders cols
    "cache_key_lookup": (
        ["ReadSchema: struct<o_custkey:bigint,o_orderdate"],
        ["CartesianProduct"],
    ),
    # q3 shape: filters pushed on all three scans, top-10 without a
    # global sort, segment probe as a broadcast semi-join
    "shipping_priority": (
        ["TakeOrderedAndProject", "BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["CartesianProduct"],
    ),
    # q5 shape: every dim broadcast; no cartesian despite the two-column
    # colocation join condition
    "local_supplier_volume": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # q4 shape: EXISTS compiles to LEFT SEMI with the date comparison as
    # a residual, orders range predicate pushed to the scan
    "order_priority_late_ship": (
        ["LeftSemi", "PushedFilters: [IsNotNull(o_orderdate)"],
        ["CartesianProduct"],
    ),
    # q7 shape: both nation branches broadcast
    "nation_volume_shipping": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # q18 shape: HAVING shrinks facts before joins; top-20 without a
    # global sort
    "large_order_customers": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # q2 shape: argmin window runs on the aggregated relation; all
    # three enrichment joins broadcast
    "min_cost_supplier": (["Window", "BroadcastHashJoin"], ["CartesianProduct"]),
    # PII scrub: pure JVM map (regexp codegen) + 1-row agg — any Python
    # eval operator here means the regex fell off the codegen path
    "pii_redaction_census": (
        ["Scan parquet"],
        ["BatchEvalPython", "ArrowEvalPython", "Exchange hashpartitioning"],
    ),
    # probe-targeted decontamination: benchmark grams broadcast, no
    # shuffle of the corpus gram stream for the join
    "benchmark_decontamination": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    ),
    # runtime Bloom-filter join: the selective orders predicate becomes
    # a might_contain(bloom_filter_agg(xxhash64(l_orderkey))) semi-
    # filter injected on the FACT scan — fact rows that cannot match
    # are dropped before the shuffle (the 100 TB lever)
    "bloom_join_urgent_revenue": (
        ["might_contain", "bloom_filter_agg", "xxhash64(l_orderkey"],
        ["CartesianProduct", "BroadcastHashJoin", "BatchEvalPython"],
    ),
    # q16 shape: NOT IN is a broadcast anti-join; size/brand filters
    # pushed to the part scan
    "supplier_cnt_by_part": (
        ["LeftAnti", "PushedFilters: [IsNotNull(p_brand)"],
        ["CartesianProduct"],
    ),
    # q19 shape: the disjunction's common conjuncts are extracted and
    # pushed to both scans (size bound on part, quantity bound on
    # lineitem); the full OR stays as join residual — no cartesian
    "disjunctive_promo_revenue": (
        ["Or(And(", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # q21 shape: EXISTS→LeftSemi and NOT EXISTS→LeftAnti self-joins
    "sole_late_supplier": (["LeftSemi", "LeftAnti"], ["CartesianProduct"]),
    # q22 shape: scalar threshold broadcast, NOT EXISTS anti-join
    "idle_customer_balance": (["LeftAnti"], ["CartesianProduct"]),
    # q15 shape: the `rev = max(rev)` filter over the broadcast 1-row
    # max is recognized as an equi-join key → BroadcastHashJoin (the
    # cross-join-then-filter never materializes)
    "top_revenue_supplier": (
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["CartesianProduct"],
    ),
    # q11 shape: same scalar-threshold posture
    "nation_value_share": (["BroadcastNestedLoopJoin"], []),
    # q6 shape: ALL four predicates pushed to the lineitem scan; the
    # read schema prunes 11 of 11 columns down to the 4 referenced
    "forecast_revenue_change": (
        [
            "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
            "IsNotNull(l_quantity)",
            # the shipdate RANGE reaches the scan too — only possible on
            # the TimestampType read path (inferTimestampNTZ=false); an
            # NTZ read + cast would strip these from PushedFilters
            "GreaterThanOrEqual(l_shipdate,1996-01-01",
            "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate:timestamp>",
        ],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # q8 shape: type/region equality pushed to their dim scans; no
    # cartesian despite nation appearing under two roles
    "nation_market_share": (
        ["EqualTo(p_type,PROMO)", "EqualTo(r_name,ASIA)", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # q9 shape: the LIKE lands on the part scan as StringContains
    "product_profit_by_nation": (
        ["StringContains(p_name,gear)", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # q10 shape: returnflag + quarter range pushed, top-20 without a
    # global sort
    "returned_item_customers": (
        ["EqualTo(l_returnflag,R)", "TakeOrderedAndProject"],
        ["CartesianProduct"],
    ),
    # q12 shape: ship-year range pushed to lineitem; the 45-day lag is
    # a join residual, not a post-join filter
    "late_shipment_priority": (
        ["PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"],
        ["CartesianProduct"],
    ),
    # q13 shape: LEFT OUTER survives (in-join filter must not convert
    # it to inner); customer scan pruned to the single key column
    "customer_order_distribution": (
        ["LeftOuter", "ReadSchema: struct<c_custkey:bigint>"],
        ["CartesianProduct"],
    ),
    # q14 shape: spring window pushed to lineitem, part broadcast
    "promo_revenue_share": (
        ["GreaterThanOrEqual(l_shipdate", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # q20 shape: the qualifying-supplier set enters supplier as a
    # LEFT SEMI (no post-join dedup)
    "dominant_part_suppliers": (
        ["LeftSemi", "EqualTo(p_type,SMALL)"],
        ["CartesianProduct"],
    ),
    # SQL-string surface: textual SQL must lower to the same physical
    # shapes as the DataFrame twins — broadcast dims, predicate to the
    # scan, LIMIT+ORDER BY as TakeOrderedAndProject, no Python eval
    "sql_revenue_by_nation": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "sql_above_avg_balance": (
        ["Subquery", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # media decode must run Arrow-batched (MapInPandas), never
    # row-at-a-time Python
    "multimodal_features": (
        ["MapInPandas"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # round-3 late additions: hash/fold expressions stay JVM-side;
    # the funnel twin must plan the declared FullOuter, not degrade
    "winnow_robust_census": ([], ["BatchEvalPython", "CartesianProduct"]),
    "stratified_sample_events": (["HashAggregate"], ["BatchEvalPython"]),
    "value_histogram_events": (["HashAggregate"], ["BatchEvalPython"]),
    "stream_join_funnel_outer": (["FullOuter"], ["BatchEvalPython"]),
    "repeated_ngrams": (["TakeOrderedAndProject"], ["BatchEvalPython", "CartesianProduct"]),
    "corpus_curation_funnel": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    "dedup_normalized_documents": (["HashAggregate"], ["BatchEvalPython"]),
    "asof_forward_deadline": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    "asof_nearest_event": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # PQ ADC scan: encode/reconstruct are literal-folded JVM expressions
    # (never Python); the bounded probe fan-out must plan as a broadcast
    # nested-loop, not an unbroadcast CartesianProduct
    "sim_topk_pq": (
        ["BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # span census: explode + two hash shuffles, everything JVM-side
    "span_dedup_census": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # per-lang ntile window; score expression stays in codegen
    "quality_decile_filter": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    # vocabulary head must plan as TakeOrderedAndProject (no global sort)
    "zipf_token_slope": (
        ["TakeOrderedAndProject"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # sweep-line over session boundaries: windowed prefix sum, JVM-side
    "session_concurrency_profile": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    # leakage audit: split tags join as broadcasts; sha2/minhash stay JVM
    "split_leakage_audit": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # unigram LM: corpus total is a broadcast 1-row frame (BNLJ), the
    # token->prob join is an equi-join, everything JVM-side
    "perplexity_filter_unigram": (
        ["BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # centroid assignment: 10-row centroid relation broadcasts (BNLJ);
    # the elementwise mean is a posexplode + hash agg, all JVM-side
    "label_centroid_confusion": (
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # climatology: calendar-bounded groups, decimal partial aggs, JVM
    "monthly_climatology": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # anomaly scoring: the 12x|type| normals relation must broadcast
    "climatology_anomalies": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # layout probe: pure integer expressions over the distinct-cell set
    "zorder_layout_stats": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # e2e training pipeline: chunk explode + dedup window + pack window,
    # bins rollup joins back as a broadcast
    "training_example_pipeline": (
        ["Window", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # grouped OLS: dims broadcast, regressions as JVM aggregates
    "revenue_trend_by_nation": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # SQL-parser window ranking: same Window plan as the DataFrame twins
    "sql_top_spenders_window": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    # entropy: explode + two hash shuffles, ln over exact ints, JVM-side
    "char_entropy_quality": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # great-circle lookup: bbox prefilter + trig stay in codegen (lat/
    # lon are derived here; stored columns would push the box to the scan)
    "haversine_nearby": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # zero-order-hold mean: lead window + rollup share one sorted exchange
    "time_weighted_avg": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    # sweep: probe grams broadcast per n; the corpus never shuffles
    "contamination_ngram_sweep": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # fuzzy θ-join over the distinct-name relation: broadcast NLJ, no
    # base-table cartesian
    "fuzzy_name_pairs": (
        ["BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # repetition/lexical rules: pure array-expression map work — any
    # Python eval or a join here means the per-row fold fell apart
    "gopher_repetition_filter": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    ),
    "lexical_quality_rules": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # bigram LM: both LM relations are vocabulary-bounded → broadcast;
    # the transition stream must never sort-merge
    "bigram_perplexity_interp": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # mixture weights: the two totals ride 1-row broadcast frames
    "mixture_temperature_weights": (
        ["BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # calibration panel: doc_id bound pushed to the scan, pair join is
    # a bounded broadcast NLJ
    "minhash_jaccard_calibration": (
        ["LessThan(doc_id,60)", "BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # novelty census: the gram-census join must stay a shuffle join at
    # scale (gram cardinality grows with the corpus) — gate only the
    # absences; AQE may legitimately broadcast at sf0.01
    "ngram_novelty_census": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # A-ES sampling: key assignment is map work; selection compiles to
    # TakeOrderedAndProject (per-partition top-50, no global sort)
    "weighted_sample_deterministic": (
        ["TakeOrderedAndProject"],
        ["BatchEvalPython", "CartesianProduct", "Window"],
    ),
    # percentile trim: cut points are a broadcast 1-row aggregate
    "doc_length_percentile_trim": (
        ["BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # funnel: user-keyed joins only; no cartesian anywhere
    "event_funnel_conversion": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    "weekly_retention_cohorts": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # gaps-and-islands: both window specs share ONE user_id exchange
    "event_value_run_lengths": (
        ["Window"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # argmax via struct max: ONE partial agg, explicitly windowless
    "peak_event_per_user": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "Window", "SortMergeJoin"],
    ),
    # nucleus: doc-keyed windows + aggs; no joins at all
    "nucleus_vocab_census": (
        ["Window"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    "tokenizer_fertility": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # band tuning: same bounded broadcast pair panel as calibration
    "minhash_band_tuning_curve": (
        ["LessThan(doc_id,60)", "BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # DSIR: census + totals broadcast (vocabulary-bounded), the corpus
    # token stream must never sort-merge against them
    "dsir_importance_weights": (
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # SemDeDup: centroid assignment is literal-folded map work (no
    # centroid join); the pairwise confirm is an equi-join on cell
    "semantic_dedup_cells": (
        ["Scan ExistingRDD"],  # assignment materialized once (checkpoint)
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # Markov matrix: one user-keyed lead window; row-normalization runs
    # on the 25-row matrix
    "event_type_markov_transitions": (
        ["Window"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # SQL-string funnel: scalar subqueries plan as broadcast 1-row
    # joins, same posture as the DataFrame twin
    "sql_funnel_conversion": (
        ["Subquery"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # textual GROUPING SETS lowers to Expand + one partial agg
    "sql_grouping_sets_revenue": (
        ["Expand"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # balanced sampling: per-cell top-k window (cells are the partition
    # key — no global sort), literal-folded assignment (no joins to
    # anything corpus-sized beyond the occupancy self-aggregate)
    "cluster_balanced_sampling": (
        ["Window"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # purity: assignment + two partial aggs, joinless
    "cell_label_purity": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # heatmap: two date projections + one partial agg, joinless
    "events_hourly_heatmap": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # latency percentiles: fact-fact equi-join (no broadcast of a
    # corpus-scale side is asserted by leaving the strategy to AQE),
    # percentile agg per 5-row group
    "ship_latency_percentiles": (
        ["Scan parquet"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # AV metadata decode must run Arrow-batched, like images
    "multimodal_av_metadata": (
        ["MapInPandas"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # OHLC: one map-side-combining aggregate, explicitly windowless.
    # min/max over a STRUCT has no hash-agg buffer implementation, so
    # Spark plans SortAggregate — still partial+final (map-side
    # combine), just sorted within partitions.
    "daily_ohlc_bars": (
        ["SortAggregate"],
        ["BatchEvalPython", "CartesianProduct", "Window", "SortMergeJoin"],
    ),
    # distribution ranks ride the boundary-bucketed rank device: K-way
    # partitioned windows, offsets broadcast back (never a shuffle join)
    "order_percentile_ranks": (
        ["Window", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # bivariate moments accumulate map-side: one partial agg, joinless
    "lineitem_corr_stats": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "Window", "SortMergeJoin"],
    ),
    # ordered array agg: membership+order from the window, nation dim
    # broadcast
    "nation_top_balances_array": (
        ["Window", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # navigation functions: all three frames share ONE customer
    # exchange; the latest-row filter is a broadcast semi-join
    "order_frame_values": (
        ["Window", "LeftSemi"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # correlated EXISTS decorrelates to ExistenceJoin, never a
    # per-row subquery loop
    "sql_exists_customers": (
        ["ExistenceJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # round 5: graph / incremental / interval / timeseries / layout ----
    # full outer cannot broadcast; both sides are pre-aggregated so the
    # SMJ shuffles O(nations) rows, never the fact tables
    "full_outer_nation_presence": (
        ["SortMergeJoin FullOuter"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # edge census + wedge joins are all equi-joins (the only nested
    # loops are the bounded 1-row scalar combines at the end)
    "copurchase_triangle_census": (
        ["SortMergeJoin Inner"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # same-order self-join: equi on l_orderkey, interval predicate as
    # residual — never a cartesian despite the theta condition
    "shipment_overlap_pairs": (
        ["abs(datediff"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # binned range join: explode(Generate) + equi-join — the theta
    # join exists only in the oracle
    "fiscal_window_rollup": (
        ["Generate", "explode"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # partial states from two disjoint pushed-predicate scans, merged
    # by a second agg over the union
    "incremental_agg_merge": (
        ["Union", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "mv_incremental_refresh": (
        ["Union", "PushedFilters: [IsNotNull(o_orderdate)"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # all three windows + the island agg share ONE custkey exchange
    # (the only other exchange is the presentation orderBy)
    "scd2_priority_history": (
        ["Window", "hashpartitioning(o_custkey"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # windows run post-aggregation on the calendar-sized series
    "ewma_monthly_revenue": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    "daily_zscore_anomalies": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    "compaction_plan": (["Window"], ["BatchEvalPython", "CartesianProduct"]),
    "shuffle_bucket_histogram": (
        ["Window"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # fixed-iteration PageRank: every iteration is an equi-join +
    # partial agg; top-20 never global-sorts
    "pagerank_copurchase_top20": (
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # temporal as-of probe: custkey equi-join + per-orderkey dedup
    # window; never a nested loop over intervals
    "scd2_point_in_time_join": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # referential rule is the absence probe; everything reaching the
    # union is a 1-row relation
    "dq_constraint_census": (
        ["LeftAnti", "Union"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # the category grid is the bounded broadcast pair generator; the
    # unbounded CartesianProduct operator must never appear
    "segment_priority_chisq": (
        ["BroadcastNestedLoopJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "conversion_latency_percentiles": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # power-iteration result assembly over the checkpointed iterate:
    # scalar combines are bounded broadcasts; nothing Python-side
    "embedding_top_component": ([], ["CartesianProduct", "BatchEvalPython"]),
    # BM25: df + (N, avgdl) scalars broadcast, top-10 without a global
    # sort; the only nested-loop is the broadcast 1-row stats frame
    "bm25_topk": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # RRF: the fusion FULL OUTER legitimately sort-merges (full outer
    # cannot broadcast); ranks come from window sorts, top-10 is
    # TakeOrderedAndProject
    "rrf_hybrid_retrieval": (
        ["TakeOrderedAndProject", "SortMergeJoin FullOuter", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # posting-list AND: one agg + keyed metadata rejoin, no self-join
    "inverted_index_conjunctive": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # PMI: df sides and the N scalar are broadcasts; pair generation is
    # the doc_id equi-join, never an unbounded product
    "token_pmi_pairs": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # prefix-filtered set-similarity join: candidate generation and the
    # confirm rejoin are all equi-joins (broadcast at this scale)
    "prefix_filter_jaccard_join": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # CMS: the three counter arrays (<= 64 rows) come back as broadcast
    # joins — estimating never re-shuffles the keyed relation
    "countmin_heavy_hitters": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # skyline: the window runs over distinct price LEVELS and the
    # surviving-level rejoin broadcasts; no pairwise comparison shape
    "pareto_skyline_orders": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # KMV: one distinct shuffle + per-group windows; no join at all
    "kmv_distinct_estimate": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"],
    ),
    # F2 estimate: everything past the keyed count agg is scalar-sized
    # broadcast combines (BNLJ on 1-row frames is the intended shape)
    "cms_join_size_estimate": (
        [],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # Poisson bootstrap: the B-fold fanout is a Generate (explode) on
    # the map side — no shuffle until the replicate agg; scalar joins
    # are broadcast 1-row frames
    "poisson_bootstrap_ci": (
        ["Generate"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # Welch pairs: the a<b theta-join runs on the 5-row MOMENT relation
    # (bounded BNLJ, the chisq-grid shape) — never on event rows
    "welch_ttest_event_values": (
        ["BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # KMV set ops: one custkey shuffle + k-row windows; scalar combine
    # is a broadcast 1-row frame
    "kmv_set_operations": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # named-WINDOW SQL: both specs resolve onto one month-ordered sort
    "sql_named_window_rollup": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # UDTF surface: the Python generator MUST appear (ArrowEval +
    # PythonUDTF is the operator under test), row-based eval must not
    "sql_udtf_chunk_documents": (
        ["ArrowEvalPython", "PythonUDTF"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # ANOVA: pure agg-over-agg, no joins at all
    "anova_oneway_event_values": (
        [],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # Mann-Whitney: rank + tie-block windows over one sort; no joins
    "mannwhitney_u_event_values": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython"],
    ),
    # association rules: basket self-join on the order key; item
    # counts and the order-count scalar broadcast; top-20 by lift
    # without a global sort
    "association_rules_copurchase": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # OLS normal equations: ONE aggregate, zero joins, zero windows —
    # the whole solve is a scalar projection over ten moments
    "ols_price_regression": (
        [],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "BatchEvalPython", "Window"],
    ),
    # Naive Bayes probe: V*C model grid broadcast into the tf join;
    # per-doc argmax window; no unbounded product
    "nb_lang_signal_probe": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # exact KS: cumulative windows over the value-level relation;
    # scalar frames ride as broadcast 1-row joins
    "ks_test_price_by_year": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython"],
    ),
    # Kaplan-Meier: user fold is the keyed join; curve windows run on
    # the horizon-sized relation
    "kaplan_meier_user_lifetime": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
}


def main() -> int:
    names = sys.argv[1:] or list(AUDIT)
    registry = load_all()
    spark = get_spark("explain-audit")
    failures: list[str] = []
    for name in names:
        df = registry[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        must, must_not = AUDIT.get(name, ([], []))
        for frag in must:
            if frag not in plan:
                failures.append(f"{name}: missing {frag!r}")
        for frag in must_not:
            if frag in plan:
                failures.append(f"{name}: unexpected {frag!r}")
        print(f"=== {name} ===")
        print(plan)
    if failures:
        print("\nFAILURES:")
        for f in failures:
            print(" ", f)
        return 1
    print(f"\nplan audit OK ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
