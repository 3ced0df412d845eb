# ROTATION QUEUE: EMPTY since round 10 — every registered query has a
# driver CORRECTNESS row; since round 11 the rotation criterion is
# STALENESS (oldest last-green round first; tools/rotation_queue.py
# prints the ordering and a suggested next window). STANDING
# NET-ZERO-DEBT RULE (see the window blocks at the bottom): new
# registrations per round <= what the next 50-slot window absorbs
# alongside the stale-green repeats (<= 20/round), and every new
# registration enters the very next window. Any query whose PLAN or
# ORACLE changes mid-round re-enters the next window too (round 12:
# new_customers).
"""Query inventory — registers every implemented operator/query.

One `register(...)` call per SURVEY.md §2 line item (plus the
beyond-reference training-data operators). Column names are aliased
identically in the Spark plan and the oracle SQL — the driver's
compare hashes values under sorted column names.

REGISTRATION ORDER MATTERS: the driver records CORRECTNESS rows for
the first 50 entries only. Since round 8 the window is defined
EXPLICITLY by the current ``ROUND{N}_WINDOW`` list at the bottom of
this file (``registry.promote`` reorders the registry so the list
comes first) — rotating is one list edit, not a reshuffle of
register() blocks. Earlier rotations (rounds 3-12) are recorded in
git history. Everything outside the window keeps identical
DuckDB-oracle parity coverage in pytest
(tests/conftest.py::assert_matches_oracle), and the opt-in
sf0.1 sweep (tests/test_parity_bench_scale.py) re-proves the whole
registry at bench scale once per round.
"""

from __future__ import annotations

from global_superstore_data_warehouse_spark.plans import (
    cdc,
    cleansing,
    conformance,
    curation,
    dmstar,
    embeddings,
    events,
    fact,
    ingest,
    lakehouse,
    linkrank,
    mixtures,
    multimodal,
    observability,
    pipeline,
    retail,
    scd,
    setsim,
    stats,
    textops,
    views,
    warehouse,
    windows,
)
from global_superstore_data_warehouse_spark import security
from global_superstore_data_warehouse_spark import registry
from global_superstore_data_warehouse_spark.registry import register

# ======================================================================
# Driver-checked window (first 50 entries)
# ======================================================================

# --- Flagship analytical views (reference mat views, bl_dm.sql) ---
register("yearly_sales_profit", views.yearly_sales_profit, views.yearly_sales_profit_oracle())
register("sales_employees_regions", views.sales_employees_regions, views.sales_employees_regions_oracle())
register("seasonality_segment", views.seasonality_segment, views.seasonality_segment_oracle())

# --- 3NF warehouse layer (SURVEY §1 items 4-7, §2.6 surrogate keys,
# S8 date generation, J1 snowflake lookups) ---
register("surrogate_keys_customers", warehouse.surrogate_keys_customers, warehouse.SURROGATE_KEYS_CUSTOMERS_ORACLE)

# --- Two-source heterogeneous conformance (consumer.sql vs
# corporate.sql shapes -> one conformed model, bl_cl.sql) ---
register("conform_two_sources", conformance.conform_two_sources, conformance.CONFORM_TWO_SOURCES_ORACLE)

# --- SCD2 merge (§2.9) + incremental lifecycle + DM propagation +
# fact build (J1/J2/J5) ---
register("scd2_two_load_lifecycle", scd.scd2_two_load_lifecycle, scd.SCD2_TWO_LOAD_LIFECYCLE_ORACLE)
register("fact_pit_customers", scd.fact_pit_customers, scd.FACT_PIT_CUSTOMERS_ORACLE)
register("fact_orders", fact.fact_orders, fact.FACT_ORDERS_ORACLE)
# CDC ordered-apply: snapshot ⊕ I/U/D stream → final state (round 5)
register("cdc_apply_orders", cdc.cdc_apply_orders, cdc.CDC_APPLY_ORDERS_ORACLE)
# incremental MV maintenance: merge(state, delta) == full recompute
register(
    "incremental_mv_refresh",
    pipeline.incremental_mv_refresh,
    pipeline.INCREMENTAL_MV_REFRESH_ORACLE,
)

# --- C9 roles/GRANTs: the analyst role's secured view (privilege
# gate + keyed column masks + pushed-down row filter; security.py) ---
register(
    "secured_customers_analyst",
    security.secured_customers_analyst,
    security.SECURED_CUSTOMERS_ANALYST_ORACLE,
)

# --- Text analysis & dedup (beyond-reference training-data ops) ---
register("minhash_lsh_candidates", textops.minhash_lsh_candidates, textops.MINHASH_LSH_CANDIDATES_ORACLE)
register("dedup_clusters", textops.dedup_clusters, textops.DEDUP_CLUSTERS_ORACLE)
# exact set-similarity join (prefix filtering + PPJoin filters,
# recall 1.0 by construction — oracle is the brute-force join; the
# most novel plan in the repo, in-window round 5)
register("jaccard_prefix_pairs", setsim.jaccard_prefix_pairs, setsim.JACCARD_PREFIX_PAIRS_ORACLE)
# FastSS deletion-neighborhood fuzzy match (recall-1.0 blocking)
register(
    "fuzzy_match_fastss",
    cleansing.fuzzy_match_fastss,
    cleansing.FUZZY_MATCH_FASTSS_ORACLE,
)

# --- Corpus stats & grouping sets (beyond-reference) ---
# full CUBE with GROUPING flags (in-window round 5 — supersedes the
# rotated-out ROLLUP as the grouping-set family representative)
register("sales_cube", stats.sales_cube, stats.SALES_CUBE_ORACLE)

# --- Range/interval join (bucket-blocked; operators/rangejoin.py) ---
register(
    "events_in_maintenance_windows",
    events.events_in_maintenance_windows,
    events.EVENTS_IN_MAINTENANCE_WINDOWS_ORACLE,
)

# --- Training-data curation (repetition filters, quality gates,
#     privacy, sequence packing, as-of attribution, end-to-end
#     pipeline) ---
register(
    "asof_click_attribution",
    curation.asof_click_attribution,
    curation.ASOF_CLICK_ATTRIBUTION_ORACLE,
)
# end-to-end filter -> exact-dedup -> pack composition in one plan
register("curation_pipeline", curation.curation_pipeline, curation.CURATION_PIPELINE_ORACLE)
# Bloom-prefiltered decontamination: JVM bitmap probe + exact
# confirm (in-window round 5 — the never-driver-checked half of the
# equivalence-tested pair; the broadcast-join plan it shadows,
# decontaminate_ngrams, was r04-green and rotates out)
register("decontaminate_bloom", curation.decontaminate_bloom, curation.DECONTAMINATE_BLOOM_ORACLE)

# right-to-erasure cascade customer -> orders -> lineitem
register(
    "gdpr_erasure_cascade",
    security.gdpr_erasure_cascade,
    security.GDPR_ERASURE_CASCADE_ORACLE,
)

# --- Very-late-round-4 rotation: five more novel shapes swapped IN
# (rotated out, all r03 hash-green + shape-covered: scd2_products /
# scd2_employees = scd2_customers' exact shape; dim_product_hierarchy
# = dim_address's snowflake lookup; cosine_topk / ann_lsh_topk ride
# inside the in-window ann_recall composition) ---
# distributed PageRank (iterative family; unrolled-CTE oracle)
register("part_pagerank", linkrank.part_pagerank, linkrank.PART_PAGERANK_ORACLE)

# --- Rotated IN round 6 (never driver-checked before; fourteen novel
# shapes get their first CORRECTNESS rows — see the matching
# "Rotated OUT round 6" block past the window for what made room) ---
# 2-D skyline / Pareto frontier (running-max dominance scan)
register("part_skyline", retail.part_skyline, retail.PART_SKYLINE_ORACLE)
# end-to-end entity resolution: FastSS match -> connected components
# -> survivorship in one composed plan (covers the survivorship
# max_by shape of the out-rotated golden_record_customers too)
register(
    "entity_resolution_customers",
    conformance.entity_resolution_customers,
    conformance.ENTITY_RESOLUTION_CUSTOMERS_ORACLE,
)
# per-doc mean unigram log-likelihood + bits/token (LM quality gate)
register(
    "unigram_logprob_scores",
    textops.unigram_logprob_scores,
    textops.UNIGRAM_LOGPROB_SCORES_ORACLE,
)
# bigram conditional surprisal (word-order-sensitive LM gate)
register(
    "bigram_surprisal_scores",
    textops.bigram_surprisal_scores,
    textops.BIGRAM_SURPRISAL_SCORES_ORACLE,
)
# per-user interval-UNION coverage (sweep-line islands, one exchange)
register(
    "user_activity_coverage",
    events.user_activity_coverage,
    events.USER_ACTIVITY_COVERAGE_ORACLE,
)
# what dedup would buy, by duplicate-cluster size (composes the CC
# plan + token counts — keeps the dedup-endgame family represented
# alongside dedup_clusters)
register(
    "dedup_savings_report",
    textops.dedup_savings_report,
    textops.DEDUP_SAVINGS_REPORT_ORACLE,
)
# cluster-balanced diversity sampling over k-means assignments
register(
    "cluster_balanced_sample",
    embeddings.cluster_balanced_sample,
    embeddings.CLUSTER_BALANCED_SAMPLE_ORACLE,
)
# BFS hop layers (frontier expansion; completes the in-window
# iterative-graph trio next to part_pagerank + copurchase_triangles)
register(
    "copurchase_bfs_layers",
    linkrank.copurchase_bfs_layers,
    linkrank.COPURCHASE_BFS_LAYERS_ORACLE,
)
# order-recursive EWMA smoothing as one per-series Catalyst fold
register(
    "daily_revenue_ewma",
    observability.daily_revenue_ewma,
    observability.DAILY_REVENUE_EWMA_ORACLE,
)
# Benford first-digit screen of order totals (fraud/anomaly QA)
register(
    "benford_order_totals",
    observability.benford_order_totals,
    observability.BENFORD_ORDER_TOTALS_ORACLE,
)
# exact integer allocation (largest-remainder/Hamilton method)
register(
    "market_budget_allocation",
    retail.market_budget_allocation,
    retail.MARKET_BUDGET_ALLOCATION_ORACLE,
)
# near-dup leakage audit across content-fingerprint splits (the
# eval go/no-go: LSH candidates x split assignment)
register(
    "split_near_dup_leakage",
    mixtures.split_near_dup_leakage,
    mixtures.SPLIT_NEAR_DUP_LEAKAGE_ORACLE,
)
# schema-evolution union (v2 adds a column; fill-rate report)
register(
    "schema_evolution_union",
    conformance.schema_evolution_union,
    conformance.SCHEMA_EVOLUTION_UNION_ORACLE,
)
# mergeable per-day HLL sketches + running union rollup (estimates
# are engine-specific -> rows-only; replaces the window's previous
# rows-only entry events_hourly_approx_users so the window still
# carries exactly one no-oracle row)
register("daily_user_sketch_rollup", events.daily_user_sketch_rollup, None)
# NEW round 11 (net-zero budget; round-11 window first-timers): the
# two sketch queries above are the registry's only rows-only driver
# records (HLL estimates have no deterministic SQL oracle). These
# audit twins close that gap: each joins the sketch estimate to the
# EXACT count and outputs only oracle-expressible columns — the
# exact counts plus integer pass flags on the ±tolerance bound — so
# the driver's hash compare becomes a real error-bound check on the
# sketch path.
register(
    "daily_user_sketch_rollup_audit",
    events.daily_user_sketch_rollup_audit,
    events.DAILY_USER_SKETCH_ROLLUP_AUDIT_ORACLE,
)
register(
    "events_hourly_approx_users_audit",
    events.events_hourly_approx_users_audit,
    events.EVENTS_HOURLY_APPROX_USERS_AUDIT_ORACLE,
)

# --- Rotated IN round 7 (never driver-checked before; fourteen more
# shapes get their first CORRECTNESS rows — see the matching
# "Rotated OUT round 7" block past the window for what made room,
# and which in-window entry covers each out-rotated shape) ---
# mergeable count-min sketch: deterministic md5-seeded frequency
# grid; hash parity proves merge(day grids) == direct
register(
    "countmin_heavy_hitters",
    events.countmin_heavy_hitters,
    events.COUNTMIN_HEAVY_HITTERS_ORACLE,
)
# CMS inner-product join-cardinality estimator + accuracy audit
register(
    "join_size_estimate",
    observability.join_size_estimate,
    observability.JOIN_SIZE_ESTIMATE_ORACLE,
)
# declarative data-quality expectations in ONE map-side-combined scan
register(
    "expectations_report",
    observability.expectations_report,
    observability.EXPECTATIONS_REPORT_ORACLE,
)
# real end-to-end WAV PCM16 decode (audio twin of the image path)
register(
    "audio_decode_stats",
    multimodal.audio_decode_stats,
    multimodal.AUDIO_DECODE_STATS_ORACLE,
)
# KMV approximate distinct, self-auditing against the exact count
register(
    "daily_users_kmv",
    events.daily_users_kmv,
    events.DAILY_USERS_KMV_ORACLE,
)
# simhash detection recall vs the exact Jaccard ground truth
register(
    "simhash_recall_eval",
    textops.simhash_recall_eval,
    textops.SIMHASH_RECALL_EVAL_ORACLE,
)
# mergeable binned-quantile sketch rollup (merge == direct parity)
register(
    "quantile_sketch_rollup",
    observability.quantile_sketch_rollup,
    observability.QUANTILE_SKETCH_ROLLUP_ORACLE,
)
# int8 scalar-quantized ANN scan with exact top-M rerank
register(
    "ann_int8_rerank",
    embeddings.ann_int8_rerank,
    embeddings.ANN_INT8_RERANK_ORACLE,
)
# per-segment least-squares revenue trend (algebraic regr_* aggs)
register(
    "segment_revenue_trend",
    observability.segment_revenue_trend,
    observability.SEGMENT_REVENUE_TREND_ORACLE,
)
# single-pass per-column profiling (count/null/distinct/min/max)
register("profile_columns", observability.profile_columns, observability.PROFILE_COLUMNS_ORACLE)
# inclusion-dependency (FK) discovery across the star's key columns
register("fk_discovery", observability.fk_discovery, observability.FK_DISCOVERY_ORACLE)
# partition-layout advisor (rows/bytes per candidate key → skew)
register(
    "partition_advisor",
    observability.partition_advisor,
    observability.PARTITION_ADVISOR_ORACLE,
)
# temperature-scaled mixture sampling over domain shares
register(
    "temperature_mixture_sample",
    mixtures.temperature_mixture_sample,
    mixtures.TEMPERATURE_MIXTURE_SAMPLE_ORACLE,
)
# leakage-safe fingerprint-level train/val/test splits
register("leakage_safe_splits", mixtures.leakage_safe_splits, mixtures.LEAKAGE_SAFE_SPLITS_ORACLE)

# --- Round-8 additions (never driver-checked yet; round-9 rotation
# queue) ---
# UniMax waterfilling language-budget allocation: all-integer
# below/above-waterline decision + exact integer-division waterline
register(
    "unimax_language_budgets",
    mixtures.unimax_language_budgets,
    mixtures.UNIMAX_LANGUAGE_BUDGETS_ORACLE,
)
# stream-STREAM interval join drained availableNow and hash-proven
# equal to the batch join (the inner-join equivalence Structured
# Streaming promises)
register(
    "stream_interval_join_attribution",
    events.stream_interval_join_attribution,
    events.STREAM_INTERVAL_JOIN_ATTRIBUTION_ORACLE,
)
# NDCG@k + MRR of both ANN indexes vs exact: integer micro-unit DCG
# with a frozen discount table, one final division per metric
register(
    "retrieval_ndcg_eval",
    embeddings.retrieval_ndcg_eval,
    embeddings.RETRIEVAL_NDCG_EVAL_ORACLE,
)
# B-cubed precision/recall of the simhash clustering vs the
# MinHash+Jaccard reference — integer micro-unit per-doc ratios
register(
    "dedup_bcubed_agreement",
    textops.dedup_bcubed_agreement,
    textops.DEDUP_BCUBED_AGREEMENT_ORACLE,
)
# stream-STATIC broadcast enrichment + the streamed exactly-once
# dedup (dropDuplicatesWithinWatermark over a duplicated feed), both
# drained availableNow under the oracle gate
register(
    "stream_static_enrichment",
    events.stream_static_enrichment,
    events.STREAM_STATIC_ENRICHMENT_ORACLE,
)
register(
    "stream_dedup_exactly_once",
    events.stream_dedup_exactly_once,
    events.STREAM_DEDUP_EXACTLY_ONCE_ORACLE,
)
# exact P50/P95/P99 by iterative histogram refinement — selection in
# O(passes) scans, no total sort, no approximation
register(
    "exact_percentile_twopass",
    stats.exact_percentile_twopass,
    stats.EXACT_PERCENTILE_TWOPASS_ORACLE,
)
# embedding-space leakage audit: semantic near-dup pairs crossing
# the content-fingerprint splits (what the lexical audit misses)
register(
    "split_semantic_leakage",
    mixtures.split_semantic_leakage,
    mixtures.SPLIT_SEMANTIC_LEAKAGE_ORACLE,
)
# consistent-hash ring placement + rebalance audit: adding a worker
# moves only ~1/(n+1) of docs, all to the new worker (pytest-pinned)
register(
    "consistent_shard_rebalance",
    mixtures.consistent_shard_rebalance,
    mixtures.CONSISTENT_SHARD_REBALANCE_ORACLE,
)
# exact two-sample KS statistic: binning-free drift, integer
# cross-multiplied sup-gap, one final division
register(
    "ks_drift_statistic",
    observability.ks_drift_statistic,
    observability.KS_DRIFT_STATISTIC_ORACLE,
)
# exact chi-squared + Cramér's V: categorical drift (nominal columns
# KS can't order), micro-unit integer cell terms
register(
    "chisq_category_drift",
    observability.chisq_category_drift,
    observability.CHISQ_CATEGORY_DRIFT_ORACLE,
)
# KMV theta-sketch set intersection: audience overlap from sketches
# alone, exact-vs-estimate self-audit per adjacent-day pair
register(
    "kmv_audience_overlap",
    events.kmv_audience_overlap,
    events.KMV_AUDIENCE_OVERLAP_ORACLE,
)
# multi-pass sorted-neighborhood ER blocking: skew-independent
# n*(W-1) candidates, distributed rank via add_surrogate_key_auto
register(
    "sorted_neighborhood_pairs",
    cleansing.sorted_neighborhood_pairs,
    cleansing.SORTED_NEIGHBORHOOD_PAIRS_ORACLE,
)
# greedy k-center coreset: farthest-point diversity selection, K
# scans + scalar-only collects, argmax deterministic via (dist, id)
register(
    "kcenter_coreset",
    embeddings.kcenter_coreset,
    embeddings.KCENTER_CORESET_ORACLE,
)
# Kaplan-Meier survival: right-censored churn, exact integer
# product-limit recursion (array fold == recursive CTE)
register(
    "kaplan_meier_churn",
    events.kaplan_meier_churn,
    events.KAPLAN_MEIER_CHURN_ORACLE,
)
# TPC-H Q17 shape: correlated scalar subquery decorrelated into a
# pre-agg + join-back; BIGINT threshold (5*q*cnt < sum_q)
register(
    "tpch_avg_yearly", views.tpch_avg_yearly, views.TPCH_AVG_YEARLY_ORACLE
)
# TPC-H Q13 shape: count-of-counts with the zero bucket via left join
register("tpch_custdist", views.tpch_custdist, views.TPCH_CUSTDIST_ORACLE)
# per-node local clustering coefficients: triangle corners credited
# once via the shared degree-ordered orientation
register(
    "clustering_coefficients",
    linkrank.clustering_coefficients,
    linkrank.CLUSTERING_COEFFICIENTS_ORACLE,
)
# reciprocal-rank fusion of LSH+IVF: calibration-free hybrid
# retrieval, integer 1e9 DIV (k+rank) scoring
register(
    "rank_fusion_rrf",
    embeddings.rank_fusion_rrf,
    embeddings.RANK_FUSION_RRF_ORACLE,
)
# Shapley channel attribution: exact sixth-weights x nano-unit
# coalition conversion rates, one corpus scan
register(
    "shapley_channel_attribution",
    curation.shapley_channel_attribution,
    curation.SHAPLEY_CHANNEL_ATTRIBUTION_ORACLE,
)
# price/volume/mix revenue bridge: the FP&A waterfall, effects sum
# exactly to the revenue delta per segment
register(
    "price_volume_mix", views.price_volume_mix, views.PRICE_VOLUME_MIX_ORACLE
)
# quantile normalization: integer rank-matching onto the pooled
# distribution, no float quantile interpolation
register(
    "quantile_normalization",
    stats.quantile_normalization,
    stats.QUANTILE_NORMALIZATION_ORACLE,
)
# leakage-safe LOO target encoding: one integer ratio per row,
# smoothed toward the global prior
register(
    "target_encoding_loo",
    stats.target_encoding_loo,
    stats.TARGET_ENCODING_LOO_ORACLE,
)
# deterministic Poisson bootstrap: hash-checkable resampling, CI
# endpoints as order statistics of integer milli-cent means
register(
    "bootstrap_revenue_ci",
    stats.bootstrap_revenue_ci,
    stats.BOOTSTRAP_REVENUE_CI_ORACLE,
)
# bounded-peel k-core: fixed-round dense-subgraph extraction,
# convergence pytest-pinned, unrolled-CTE oracle
register(
    "kcore_membership",
    linkrank.kcore_membership,
    linkrank.KCORE_MEMBERSHIP_ORACLE,
)
# daily OHLC bars: deterministic first/last via total-order ranks
register("daily_ohlc", events.daily_ohlc, events.DAILY_OHLC_ORACLE)
# Gini of customer revenue per segment: all-BIGINT Lorenz terms,
# one final division
register("revenue_gini", retail.revenue_gini, retail.REVENUE_GINI_ORACLE)
# CUSUM changepoint: cross-multiplied integer deviations, max-|S|
register(
    "cusum_changepoint",
    observability.cusum_changepoint,
    observability.CUSUM_CHANGEPOINT_ORACLE,
)
# winnowing fingerprints (MOSS): rightmost-tie window minima via a
# partial-aggregated min-struct, df-capped fingerprint pair join
register(
    "winnowing_matches",
    textops.winnowing_matches,
    textops.WINNOWING_MATCHES_ORACLE,
)

# ======================================================================
# Past the driver window (entries 51+) — every entry below keeps
# identical DuckDB-oracle parity coverage in pytest; the r0N note on
# each block records its most recent hash-green driver round, and the
# in-window entry covering its plan shape. (Three event drill-downs —
# events_sliding, top_events_per_user, cohort_retention — had sat
# here without ever getting a driver row, contradicting an earlier
# version of this header; round 4 moved them into the window.)
# ======================================================================

# --- Rotated OUT round 6 (all r05 hash-green; pytest parity
# retained; shapes covered in-window) ---
# dim_date (S8/F9 date spine; scalar date fns ride dim_address +
# order_details_wide), scd2_customers + scd2_snapshot_diff (the
# in-window scd2_two_load_lifecycle chains the same merge twice;
# fact_pit_customers keeps the as-of probe), dedup_incremental
# (band-bucket probe shape = in-window minhash_lsh_candidates),
# ann_ivf_topk (rides inside the in-window ann_recall composition),
# event_funnel (ordered-window shape = events_sessionize),
# events_hourly_approx_users (rows-only slot handed to
# daily_user_sketch_rollup; HLL bound stays pytest-tested),
# quality_filter (zero-shuffle array shape = text_quality),
# pii_pseudonymize_customers (keyed masks = secured_customers_analyst),
# golden_record_customers (max_by survivorship = the in-window
# entity_resolution_customers endgame), session_maintenance_overlap
# (interval-overlap join = events_in_maintenance_windows),
# events_gapfill (spine+locf; window-family covered), semantic_dedup
# (cluster-then-prune = kmeans_assign + cluster_balanced_sample),
# minhash_recall_eval (composes two in-window plans).
register("dim_date", warehouse.dim_date, warehouse.DIM_DATE_ORACLE)
register("scd2_customers", scd.scd2_customers, scd.SCD2_CUSTOMERS_ORACLE)
register("scd2_snapshot_diff", scd.scd2_snapshot_diff, scd.SCD2_SNAPSHOT_DIFF_ORACLE)
register("dedup_incremental", textops.dedup_incremental, textops.DEDUP_INCREMENTAL_ORACLE)
register("ann_ivf_topk", embeddings.ann_ivf_topk, embeddings.ANN_IVF_TOPK_ORACLE)
register("event_funnel", events.event_funnel, events.EVENT_FUNNEL_ORACLE)
register("events_hourly_approx_users", events.events_hourly_approx_users, None)
register("quality_filter", curation.quality_filter, curation.QUALITY_FILTER_ORACLE)
register(
    "pii_pseudonymize_customers",
    curation.pii_pseudonymize_customers,
    curation.PII_PSEUDONYMIZE_CUSTOMERS_ORACLE,
)
register(
    "golden_record_customers",
    conformance.golden_record_customers,
    conformance.GOLDEN_RECORD_CUSTOMERS_ORACLE,
)
register(
    "session_maintenance_overlap",
    events.session_maintenance_overlap,
    events.SESSION_MAINTENANCE_OVERLAP_ORACLE,
)
register("events_gapfill", events.events_gapfill, events.EVENTS_GAPFILL_ORACLE)
register("semantic_dedup", embeddings.semantic_dedup, embeddings.SEMANTIC_DEDUP_ORACLE)
register("minhash_recall_eval", textops.minhash_recall_eval, textops.MINHASH_RECALL_EVAL_ORACLE)

# --- Remaining analytical views (r01/r02-green; same star-agg shape
# as the four in-window flagship views) ---
register("demand_category_region", views.demand_category_region, views.demand_category_region_oracle())
register("segment_sales", views.segment_sales, views.segment_sales_oracle())
register("priority_distribution", views.priority_distribution, views.priority_distribution_oracle())

# --- Cleansing layer (r01/r02-green; SURVEY §2.3 scalar fns,
# §2.5/§2.7 dedup & set ops, §2.4 J3/J4/J6, S5/S6 conflict sinks) ---
register("clean_dirty_ids", cleansing.clean_dirty_ids, cleansing.CLEAN_DIRTY_IDS_ORACLE)
register("split_names", cleansing.split_names, cleansing.SPLIT_NAMES_ORACLE)
register("parse_dates", cleansing.parse_dates, cleansing.PARSE_DATES_ORACLE)
register("distinct_union_brands", cleansing.distinct_union_brands, cleansing.DISTINCT_UNION_BRANDS_ORACLE)
register("union_all_segments", cleansing.union_all_segments, cleansing.UNION_ALL_SEGMENTS_ORACLE)
register("new_customers", cleansing.new_customers, cleansing.NEW_CUSTOMERS_ORACLE)
register("merged_entities", cleansing.merged_entities, cleansing.MERGED_ENTITIES_ORACLE)
register("duplicate_orders", cleansing.duplicate_orders, cleansing.DUPLICATE_ORDERS_ORACLE)
register("scd1_upsert_customers", cleansing.scd1_upsert_customers, cleansing.SCD1_UPSERT_CUSTOMERS_ORACLE)
register("case_insensitive_segments", cleansing.case_insensitive_segments, cleansing.CASE_INSENSITIVE_SEGMENTS_ORACLE)
register("events_json_props", cleansing.events_json_props, cleansing.EVENTS_JSON_PROPS_ORACLE)
register("customers_with_orders", cleansing.customers_with_orders, cleansing.CUSTOMERS_WITH_ORDERS_ORACLE)
register("types_missing_from_sample", cleansing.types_missing_from_sample, cleansing.TYPES_MISSING_FROM_SAMPLE_ORACLE)
register("types_in_both_halves", cleansing.types_in_both_halves, cleansing.TYPES_IN_BOTH_HALVES_ORACLE)
register("fuzzy_name_match", cleansing.fuzzy_name_match, cleansing.FUZZY_NAME_MATCH_ORACLE)

# --- Small dims + post-load QA (r01/r02-green; C8) ---
register("dim_market", warehouse.dim_market, warehouse.DIM_MARKET_ORACLE)
register("qa_rowcounts", dmstar.qa_rowcounts, dmstar.QA_ROWCOUNTS_ORACLE)
register("dq_report", dmstar.dq_report, dmstar.DQ_REPORT_ORACLE)
register("qa_duplicates_any_table", dmstar.qa_duplicates_any_table, dmstar.QA_DUPLICATES_ANY_TABLE_ORACLE)

# --- Window analytics (r01/r02-green; rank/rolling shapes covered
# in-window by top_events_per_user + seasonality_segment) ---
register("best_month_per_segment", windows.best_month_per_segment, windows.BEST_MONTH_PER_SEGMENT_ORACLE)
register("top_employees_per_year", windows.top_employees_per_year, windows.TOP_EMPLOYEES_PER_YEAR_ORACLE)
register("customer_ltv_deciles", windows.customer_ltv_deciles, windows.CUSTOMER_LTV_DECILES_ORACLE)
register("rolling_7d_sales", windows.rolling_7d_sales, windows.ROLLING_7D_SALES_ORACLE)

# token_stats / vocab_topk / embedding_centroids: rotated out
# mid-round-4 (all hash-green r03) to make room for the C9
# secured-view query and the two new curation/dedup shapes. Their
# shapes stay covered in-window: zero-shuffle array expressions by
# text_quality + quality_filter; explode+count+top-k by
# tfidf_topk_terms; bucketed groupBy-avg by embedding_near_dup.
register("token_stats", textops.token_stats, textops.TOKEN_STATS_ORACLE)
register("vocab_topk", stats.vocab_topk, stats.VOCAB_TOPK_ORACLE)
register("embedding_centroids", embeddings.embedding_centroids, embeddings.EMBEDDING_CENTROIDS_ORACLE)

# --- Rotated out hash-green in r03; shapes covered in-window ---
# lang_id / doc_fingerprints / simhash_docs: zero-shuffle JVM array
# expressions like token_stats/text_quality; crossmodal_near_dup
# reuses minhash_lsh_candidates' checkpointed LSH path.
register("lang_id", textops.lang_id, textops.LANG_ID_ORACLE)
register("doc_fingerprints", textops.doc_fingerprints, textops.DOC_FINGERPRINTS_ORACLE)
register("simhash_docs", textops.simhash_docs, textops.SIMHASH_DOCS_ORACLE)
register("crossmodal_near_dup", textops.crossmodal_near_dup, textops.CROSSMODAL_NEAR_DUP_ORACLE)
# deterministic_sample: same md5-bucket filter as stratified_sample;
# sales_pivot / lineitem_measures_unpivot: single-shuffle reshapes
# next to in-window sales_rollup.
register("deterministic_sample", stats.deterministic_sample, stats.DETERMINISTIC_SAMPLE_ORACLE)
register("sales_pivot", stats.sales_pivot, stats.SALES_PIVOT_ORACLE)
register("lineitem_measures_unpivot", stats.lineitem_measures_unpivot, stats.LINEITEM_MEASURES_UNPIVOT_ORACLE)
# events_hourly: tumbling-window groupBy, covered by events_sliding
# (same shape, wider) and events_hourly_approx_users (same grouping).
register("events_hourly", events.events_hourly, events.EVENTS_HOURLY_ORACLE)
# multimodal_resize: same mapInPandas batch plumbing as the in-window
# multimodal_features / multimodal_frame_sample pair.
register("multimodal_resize", multimodal.multimodal_resize, multimodal.MULTIMODAL_RESIZE_ORACLE)
# NEW round 6: end-to-end REAL image decode (vendored pure-python
# 24-bit BMP parser; arithmetic oracle never sees the bytes) —
# round-7 rotation queue, novel shape
register(
    "multimodal_decode_stats",
    multimodal.multimodal_decode_stats,
    multimodal.MULTIMODAL_DECODE_STATS_ORACLE,
)
# NEW round 6: parameterized secured view (the BI slicer/drill-through
# analogue; slicer + RLS predicates plan-asserted into PushedFilters)
# — round-7 rotation queue, novel shape
register(
    "secured_orders_slice",
    security.secured_orders_slice,
    security.SECURED_ORDERS_SLICE_ORACLE,
)
# NEW round 6: Hamming-ball near-dup via simhash bit-band LSH — the
# O(n^2) Hamming join lives ONLY in the oracle, so hash parity proves
# the banded plan's recall-1.0 pigeonhole claim. Round-7 queue.
register(
    "simhash_near_dup_pairs",
    textops.simhash_near_dup_pairs,
    textops.SIMHASH_NEAR_DUP_PAIRS_ORACLE,
)
# NEW round 6: C4-style corpus-repeated-span removal WITH cleaned-text
# reconstruction (the transform, not just the report). Round-7 queue.
register(
    "boilerplate_strip",
    textops.boilerplate_strip,
    textops.BOILERPLATE_STRIP_ORACLE,
)
# NEW round 6: exact-substring dedup at any alignment (Lee et al.):
# rolling-window hashes -> cross-doc heavy set -> maximal spans via
# the generic interval-union sweep-line. Round-7 queue.
register(
    "duplicate_span_islands",
    textops.duplicate_span_islands,
    textops.DUPLICATE_SPAN_ISLANDS_ORACLE,
)
# --- Rotated OUT round 7 (all r05 hash-green; pytest parity
# retained; shapes covered in-window) ---
# pricing_summary (TPC-H-Q1 agg = yearly_sales_profit family),
# dim_address (snowflake FK lookup = fact_orders' 6-way FK chain),
# order_details_wide (star join = yearly_sales_profit 7-way),
# text_quality (row-local text metrics ride unigram/bigram scores +
# expectations_report), tfidf_topk_terms (broadcast-df shape =
# unigram_logprob's broadcast vocab), priority_price_quantiles
# (exact percentile family = quantile_sketch_rollup), ann_recall
# (recall-eval composition = simhash_recall_eval + ann_int8_rerank),
# kmeans_assign (rides inside cluster_balanced_sample), events_
# sessionize (gap windows = user_activity_coverage sweep-line),
# nearest_purchase_to_error (as-of = asof_click_attribution),
# copurchase_triangles (graph trio keeps pagerank + bfs_layers),
# domain_quota_sample (rank-window sampling = temperature_mixture_
# sample), market_basket_pairs (self-join agg = copurchase edge
# build), multimodal_features (mapInPandas plumbing =
# audio_decode_stats' real decode).
register("pricing_summary", views.pricing_summary, views.pricing_summary_oracle())
register("dim_address", warehouse.dim_address, warehouse.DIM_ADDRESS_ORACLE)
register("order_details_wide", dmstar.order_details_wide, dmstar.ORDER_DETAILS_WIDE_ORACLE)
register("text_quality", textops.text_quality, textops.TEXT_QUALITY_ORACLE)
register("tfidf_topk_terms", stats.tfidf_topk_terms, stats.TFIDF_TOPK_TERMS_ORACLE)
register("priority_price_quantiles", stats.priority_price_quantiles, stats.PRIORITY_PRICE_QUANTILES_ORACLE)
register("ann_recall", embeddings.ann_recall, embeddings.ANN_RECALL_ORACLE)
register("kmeans_assign", embeddings.kmeans_assign, embeddings.KMEANS_ASSIGN_ORACLE)
register("events_sessionize", events.events_sessionize, events.EVENTS_SESSIONIZE_ORACLE)
register(
    "nearest_purchase_to_error",
    events.nearest_purchase_to_error,
    events.NEAREST_PURCHASE_TO_ERROR_ORACLE,
)
register(
    "copurchase_triangles",
    linkrank.copurchase_triangles,
    linkrank.COPURCHASE_TRIANGLES_ORACLE,
)
register("domain_quota_sample", curation.domain_quota_sample, curation.DOMAIN_QUOTA_SAMPLE_ORACLE)
register("market_basket_pairs", retail.market_basket_pairs, retail.MARKET_BASKET_PAIRS_ORACLE)
register("multimodal_features", multimodal.multimodal_features, multimodal.MULTIMODAL_FEATURES_ORACLE)

# --- Rotated out hash-green in r03 to make room for the round-4
# additions; shapes covered in-window ---
# stratified_sample: same md5-bucket filter as the in-window
# deterministic sampling inside domain_quota_sample; multimodal_
# frame_sample: same mapInPandas batch plumbing as
# multimodal_features.
register("stratified_sample", stats.stratified_sample, stats.STRATIFIED_SAMPLE_ORACLE)
register("multimodal_frame_sample", multimodal.multimodal_frame_sample, multimodal.MULTIMODAL_FRAME_SAMPLE_ORACLE)

# --- Rotated OUT round 5 (all r04 hash-green; pytest parity
# retained; shapes covered in-window) ---
# dim_geography: the same expr-literal FK-lookup join as the
# in-window dim_address; dm_scd2_propagation: the in-window
# scd2_customers/two_load_lifecycle SCD2 shape propagated to the DM.
register("dim_geography", warehouse.dim_geography, warehouse.DIM_GEOGRAPHY_ORACLE)
register("dm_scd2_propagation", scd.dm_scd2_propagation, scd.DM_SCD2_PROPAGATION_ORACLE)
# events_sliding (window groupBy = events_gapfill's spine agg),
# top_events_per_user (rank window = seasonality_segment),
# cohort_retention (first-seen + month-diff agg = cumulative shapes
# in-window via events_gapfill/event_funnel), event_transitions
# (lag window = nearest_purchase_to_error's ordered user window).
register("events_sliding", events.events_sliding, events.EVENTS_SLIDING_ORACLE)
register("top_events_per_user", events.top_events_per_user, events.TOP_EVENTS_PER_USER_ORACLE)
register("cohort_retention", events.cohort_retention, events.COHORT_RETENTION_ORACLE)
register("event_transitions", events.event_transitions, events.EVENT_TRANSITIONS_ORACLE)
# chunk_overlap (same explode/packing shape as the in-window
# curation_pipeline pack stage), span_dup_stats (paragraph-hash
# groupBy = dedup family), cluster_representatives (max_by
# survivorship = in-window golden_record_customers),
# decontaminate_ngrams (the equivalence-tested broadcast-join twin
# of the now-in-window decontaminate_bloom, same oracle),
# sales_rollup (subsumed by the in-window sales_cube).
register("chunk_overlap", curation.chunk_overlap, curation.CHUNK_OVERLAP_ORACLE)
register("span_dup_stats", textops.span_dup_stats, textops.SPAN_DUP_STATS_ORACLE)
register(
    "cluster_representatives",
    textops.cluster_representatives,
    textops.CLUSTER_REPRESENTATIVES_ORACLE,
)
register("decontaminate_ngrams", curation.decontaminate_ngrams, curation.DECONTAMINATE_NGRAMS_ORACLE)
register("sales_rollup", stats.sales_rollup, stats.SALES_ROLLUP_ORACLE)

# --- New in round 4 (pytest-parity; exact-equivalence tested against
# the in-window plans they shadow) ---
# a second name for the dedup endgame, kept so the registry and the
# rotation window below stay as they are
register(
    "dedup_clusters_smallstar",
    textops.dedup_clusters,
    textops.DEDUP_CLUSTERS_ORACLE,
)
# Catalyst-native session_window sessionizer (boundary-probed oracle)
register("events_session_window", events.events_session_window, events.EVENTS_SESSION_WINDOW_ORACLE)
# per-user z-score anomaly scan over event values
register("events_value_outliers", events.events_value_outliers, events.EVENTS_VALUE_OUTLIERS_ORACLE)
# two-phase top-K quota (hot-domain swap-in; equivalence-tested)
register(
    "domain_quota_sample_twophase",
    curation.domain_quota_sample_twophase,
    curation.DOMAIN_QUOTA_SAMPLE_TWOPHASE_ORACLE,
)

# --- Rotated OUT late round 4 (all r03 hash-green; pytest parity
# retained) to open window slots for the five late-round-4 shapes:
# dedup_exact_docs + pack_chunks (both composed inside the in-window
# curation_pipeline's exact-dedup and packing stages),
# ngram_jaccard_pairs (blocked-pair shape = in-window
# minhash_lsh_candidates), repetition_stats (zero-shuffle array
# shape = text_quality/quality_filter), embedding_near_dup
# (LSH-bucket groupBy shape = ann_lsh_topk / embedding path of
# crossmodal) ---
register("dedup_exact_docs", textops.dedup_exact_docs, textops.DEDUP_EXACT_DOCS_ORACLE)
register("ngram_jaccard_pairs", textops.ngram_jaccard_pairs, textops.NGRAM_JACCARD_PAIRS_ORACLE)
register("repetition_stats", curation.repetition_stats, curation.REPETITION_STATS_ORACLE)
register("pack_chunks", curation.pack_chunks, curation.PACK_CHUNKS_ORACLE)
register("embedding_near_dup", embeddings.embedding_near_dup, embeddings.EMBEDDING_NEAR_DUP_ORACLE)
# normalization-keyed exact dedup (casefold/punct-strip before hash)
register(
    "dedup_normalized_docs",
    textops.dedup_normalized_docs,
    textops.DEDUP_NORMALIZED_DOCS_ORACLE,
)
# robust (winsorized) per-segment statistics: clip at [p05, p95]
register(
    "winsorized_segment_balances",
    stats.winsorized_segment_balances,
    stats.WINSORIZED_SEGMENT_BALANCES_ORACLE,
)
# per-source corpus card: volume, diversity, language spread, dup rate
register("corpus_report", textops.corpus_report, textops.CORPUS_REPORT_ORACLE)

# --- Late-round-4 additions (pytest-parity; registered past the
# window — novel shapes here rotate in next round) ---
# (temperature_mixture_sample + leakage_safe_splits moved into the
# window in round 7)
# balanced shard assignment audit for the training reader
register("training_shards", mixtures.training_shards, mixtures.TRAINING_SHARDS_ORACLE)
# join-key skew diagnostics (choose broadcast/salt/AQE from data)
register("join_skew_report", observability.join_skew_report, observability.JOIN_SKEW_REPORT_ORACLE)
# event-type mix drift, weekday vs weekend (PSI per type)
register("psi_event_drift", observability.psi_event_drift, observability.PSI_EVENT_DRIFT_ORACLE)
# per-dimension z-score standardization of the embedding corpus
register(
    "embedding_standardize",
    embeddings.embedding_standardize,
    embeddings.EMBEDDING_STANDARDIZE_ORACLE,
)
# label-aware hard negatives for contrastive training
register(
    "hard_negative_mining",
    embeddings.hard_negative_mining,
    embeddings.HARD_NEGATIVE_MINING_ORACLE,
)
# confusion-matrix eval of the heuristic language identifier
register("lang_id_confusion", textops.lang_id_confusion, textops.LANG_ID_CONFUSION_ORACLE)
# retail analytics: Pareto/ABC, RFM
register("pareto_products", retail.pareto_products, retail.PARETO_PRODUCTS_ORACLE)
register("rfm_segments", retail.rfm_segments, retail.RFM_SEGMENTS_ORACLE)
# --- Rotated OUT very late round 4 (all r03 hash-green; pytest
# parity retained; shapes covered in-window — see the rotation note
# in the window section) ---
register("dim_product_hierarchy", warehouse.dim_product_hierarchy, warehouse.DIM_PRODUCT_HIERARCHY_ORACLE)
register("scd2_products", scd.scd2_products, scd.SCD2_PRODUCTS_ORACLE)
register("scd2_employees", scd.scd2_employees, scd.SCD2_EMPLOYEES_ORACLE)
register("cosine_topk", embeddings.cosine_topk, embeddings.COSINE_TOPK_ORACLE)
register("ann_lsh_topk", embeddings.ann_lsh_topk, embeddings.ANN_LSH_TOPK_ORACLE)
# (profile_columns moved into the window in round 7)
# Zipf rank-frequency slope per source (corpus-health diagnostic)
register("zipf_slope_by_source", textops.zipf_slope_by_source, textops.ZIPF_SLOPE_BY_SOURCE_ORACLE)
# (fk_discovery moved into the window in round 7)
# Shannon entropy of each source's token distribution
register(
    "token_entropy_by_source",
    textops.token_entropy_by_source,
    textops.TOKEN_ENTROPY_BY_SOURCE_ORACLE,
)
# burst-collapse duplicate verdicts (batch twin of watermark dedup)
register("events_dedup_bursts", events.events_dedup_bursts, events.EVENTS_DEDUP_BURSTS_ORACLE)
# BPE merge-round pair counting (zero-shuffle zip_with bigrams)
register("bpe_pair_counts", textops.bpe_pair_counts, textops.BPE_PAIR_COUNTS_ORACLE)
# per-source power-of-two length histogram with shares
register("doclen_histogram", textops.doclen_histogram, textops.DOCLEN_HISTOGRAM_ORACLE)
# inter-purchase day gaps per segment (lag window + exact median)
register("order_cadence", retail.order_cadence, retail.ORDER_CADENCE_ORACLE)
# acquisition-cohort revenue curve with running cumulative
register("revenue_cohorts", retail.revenue_cohorts, retail.REVENUE_COHORTS_ORACLE)
# derandomized Efraimidis-Spirakis weighted sample (no replacement)
register(
    "weighted_sample_topk",
    mixtures.weighted_sample_topk,
    mixtures.WEIGHTED_SAMPLE_TOPK_ORACLE,
)
# per-segment churn report as of the last order date
register("churn_flags", retail.churn_flags, retail.CHURN_FLAGS_ORACLE)
# Herfindahl supplier-concentration screen per part
register(
    "supplier_concentration",
    retail.supplier_concentration,
    retail.SUPPLIER_CONCENTRATION_ORACLE,
)
# order-to-ship lead-time distribution per priority
register(
    "fulfillment_lead_time",
    retail.fulfillment_lead_time,
    retail.FULFILLMENT_LEAD_TIME_ORACLE,
)
# per-source quality percent-rank (curriculum/mix input)
register(
    "quality_percentiles",
    textops.quality_percentiles,
    textops.QUALITY_PERCENTILES_ORACLE,
)
# top 3-step session paths (journey mining, double lag)
register("event_trigrams", events.event_trigrams, events.EVENT_TRIGRAMS_ORACLE)
# monthly seasonal index per priority (tiny-cell window)
register("seasonal_index", retail.seasonal_index, retail.SEASONAL_INDEX_ORACLE)
# out-of-orderness report per type (watermark sizing input)
register("lateness_profile", events.lateness_profile, events.LATENESS_PROFILE_ORACLE)
# ABC class transition matrix between timeline halves
register("abc_migration", retail.abc_migration, retail.ABC_MIGRATION_ORACLE)
# robust MAD outlier scan of the daily revenue series
register(
    "daily_revenue_anomalies",
    observability.daily_revenue_anomalies,
    observability.DAILY_REVENUE_ANOMALIES_ORACLE,
)
# (partition_advisor moved into the window in round 7)
# NEW round 7: zone-map data-skipping evaluation — shuffled vs
# range-sorted vs Z-order layouts x (date, custkey) predicates, with
# the matched-in-skipped=0 self-audit. The measured justification
# for sources/layout.py's writers. Round-8 queue.
register(
    "layout_skipping_eval",
    observability.layout_skipping_eval,
    observability.LAYOUT_SKIPPING_EVAL_ORACLE,
)
# NEW round 7: distributed BPE merge learning — the iterated rounds
# bpe_pair_counts' docstring promises, run over the weighted word
# vocabulary (corpus scanned once; K unrolled-CTE oracle). Round-8
# queue.
register(
    "bpe_learn_merges",
    textops.bpe_learn_merges,
    textops.BPE_LEARN_MERGES_ORACLE,
)
# NEW round 7: the apply half — encode the vocab with the learned
# merges, report per-source symbol compression. Round-8 queue.
register(
    "bpe_vocab_compression",
    textops.bpe_vocab_compression,
    textops.BPE_VOCAB_COMPRESSION_ORACLE,
)
# NEW round 7: product-quantization ANN — train per-subspace
# codebooks, encode the corpus to 12-bit codes, answer queries via
# asymmetric-distance LUT scan (the compressed-scan family's
# dimension-sublinear member next to ann_int8_rerank). Round-8
# queue.
register(
    "ann_pq_adc",
    embeddings.ann_pq_adc,
    embeddings.ANN_PQ_ADC_ORACLE,
)
# NEW round 7: multi-touch time-decay attribution (integer decay
# buckets for engine-exact weights; conserves total purchase value;
# the panel generalization of asof_click_attribution). Round-8 queue.
register(
    "multitouch_attribution",
    curation.multitouch_attribution,
    curation.MULTITOUCH_ATTRIBUTION_ORACLE,
)
# NEW round 7: DSIR data selection (Xie et al. 2023) — hashed
# unigram+bigram bucket models for target (lang='en') vs raw pool,
# per-doc log-likelihood-ratio weight as an exact integer dot product
# (micro-log units — no cross-engine float-sum order exposure).
# Round-8 queue.
register(
    "dsir_importance_weights",
    mixtures.dsir_importance_weights,
    mixtures.DSIR_IMPORTANCE_WEIGHTS_ORACLE,
)
# NEW round 7: asymmetric containment audit — per-doc count of
# proper-superset documents via class collapse + rarest-token
# blocking (containment prefix length 1 at tau=1.0); brute-force
# class x class list_has_all oracle proves block recall 1.0.
# Round-8 queue.
register(
    "superset_containment",
    setsim.superset_containment,
    setsim.SUPERSET_CONTAINMENT_ORACLE,
)
# NEW round 7: IVFADC — IVF cell pruning composed with PQ residual
# codes and per-(query, cell) ADC LUTs; the 100 TB shape where
# probing prunes partitions AND the scan reads 12-bit codes.
# Round-8 queue.
register(
    "ann_ivf_pq",
    embeddings.ann_ivf_pq,
    embeddings.ANN_IVF_PQ_ORACLE,
)
# NEW round 7: SCD1 upsert through the copy-on-write transaction-log
# table (sources/cowtable.py — the executed ACID-MERGE swap-in):
# create -> file-pruned merge -> snapshot read, folded to a
# per-bucket audit whose hash proves both the upsert values AND the
# pruning decision. Round-8 queue.
register(
    "cow_merge_upsert",
    lakehouse.cow_merge_upsert,
    lakehouse.COW_MERGE_UPSERT_ORACLE,
)
# NEW round 10 (the net-zero-debt rule's single registration this
# round, windowed immediately): the MERGE-ON-READ twin — equality
# delete files + sequence-rule snapshot read (Iceberg v2 semantics),
# same logical upsert as cow_merge_upsert, zero files rewritten; the
# audit also hashes the delete-side bookkeeping per bucket.
register(
    "mor_merge_upsert",
    lakehouse.mor_merge_upsert,
    lakehouse.MOR_MERGE_UPSERT_ORACLE,
)
# NEW late round 10 (within the net-zero budget; round-11 window
# entrant): REAL video decode — per-doc AVI 1.0 containers (MJPEG
# 'vids' stream, movi list, idx1) parsed by the vendored RIFF walker,
# every 2nd frame JPEG-decoded (baseline/progressive alternating)
# inside one mapInPandas stage; arithmetic oracle over the generator
# parameters. The moving-picture completion of the image/audio
# decode family.
register(
    "video_frame_sample_stats",
    multimodal.video_frame_sample_stats,
    multimodal.VIDEO_FRAME_SAMPLE_ORACLE,
)
# NEW late round 10 (net-zero budget; round-11 window entrant): audio
# FEATURE extraction after the real WAV decode — zero-crossings,
# exact integer RMS (isqrt at micro precision), and a windowed
# voice-activity profile over a clip with genuine silent/voiced
# structure; all-integer outputs, nested-lambda DuckDB oracle.
register(
    "audio_vad_features",
    multimodal.audio_vad_features,
    multimodal.AUDIO_VAD_FEATURES_ORACLE,
)
# NEW late round 10 (net-zero budget; round-11 window entrant): WARC
# web-archive ingestion — per-doc .warc.gz blobs (three records,
# per-record gzip members, HTTP response payload) split, parsed, and
# header-stripped by the vendored pure-python reader; the oracle
# rebuilds the framing math and digests in SQL.
register(
    "warc_ingest_stats",
    ingest.warc_ingest_stats,
    ingest.WARC_INGEST_STATS_ORACLE,
)
# NEW late round 10 (net-zero budget; windowed immediately): TFRecord
# training-shard ingestion — masked-CRC32C record framing + a
# hand-rolled tf.train.Example proto wire codec (varints, packed
# Int64List), both validated record/field-exactly; and WebDataset
# tar-of-samples ingestion — stdlib tar walk, stem-grouped samples,
# caption + vendored-BMP-decode stats per sample.
register(
    "tfrecord_ingest_stats",
    ingest.tfrecord_ingest_stats,
    ingest.TFRECORD_INGEST_STATS_ORACLE,
)
register(
    "webdataset_ingest_stats",
    ingest.webdataset_ingest_stats,
    ingest.WEBDATASET_INGEST_STATS_ORACLE,
)
# NEW late round 10 (net-zero budget; windowed immediately): Avro
# object-container ingestion — zigzag-varint binary decode (sign-mixed
# event ids pin the arithmetic-shift path), sync-marker block walk,
# deflate/null codecs alternating by doc parity.
register(
    "avro_ingest_stats",
    ingest.avro_ingest_stats,
    ingest.AVRO_INGEST_STATS_ORACLE,
)
# NEW late round 10 (net-zero budget; windowed immediately): Arrow
# IPC stream interchange — per-doc .arrows streams written and read
# batch-by-batch with pyarrow (the engine substrate), reduced with
# Arrow compute over the raw buffers; schema signature pinned.
register(
    "arrow_ipc_ingest_stats",
    ingest.arrow_ipc_ingest_stats,
    ingest.ARROW_IPC_INGEST_STATS_ORACLE,
)
# NEW late round 10 (net-zero budget; windowed immediately): CHANGE
# DATA FEED over the COW table (Delta table_changes semantics) —
# log-pruned per-commit diffs emit insert/delete/update_preimage/
# update_postimage rows across an upsert commit and a file-pruned
# DELETE whose key band straddles the update boundary.
register(
    "cow_change_feed",
    lakehouse.cow_change_feed,
    lakehouse.COW_CHANGE_FEED_ORACLE,
)
# ... and its merge-on-read twin: identical logical workload and the
# SAME oracle text — a hash match proves both storage engines report
# byte-identical row-level history (the CDC consumer contract). The
# MOR derivation is commit-local (own delete/data files + an
# envelope-pruned preimage lookup), never a snapshot diff.
register(
    "mor_change_feed",
    lakehouse.mor_change_feed,
    lakehouse.MOR_CHANGE_FEED_ORACLE,
)
# NEW round 11 (net-zero budget; round-11 window first-timer): the MOR
# table service — threshold-driven per-bucket compaction scheduling
# (mortable.compact_buckets) audited end-to-end: exactly the
# over-threshold buckets fold, their delete keys vanish from the
# real delete files, under-threshold buckets keep theirs, and the
# merged state stays exactly the logical upsert+delete.
register(
    "mor_compaction_policy",
    lakehouse.mor_compaction_policy,
    lakehouse.MOR_COMPACTION_POLICY_ORACLE,
)
# NEW round 7: margin-based bitext mining (Artetxe & Schwenk) —
# distance-margin scoring of en->de candidate pairs against both
# sides' K-NN neighborhoods, exact integer micro-cosine ranking.
# Round-8 queue.
register(
    "bitext_margin_mining",
    embeddings.bitext_margin_mining,
    embeddings.BITEXT_MARGIN_MINING_ORACLE,
)
# NEW round 7: k-anonymity / l-diversity release audit over the
# customer quasi-identifiers, with the one-step generalization
# repair decision. Round-8 queue.
register(
    "k_anonymity_audit",
    security.k_anonymity_audit,
    security.K_ANONYMITY_AUDIT_ORACLE,
)
# NEW round 7: OPTIMIZE bin-packing planner over a simulated
# per-month file inventory — partition-respecting cumulative-sum
# packing toward the target file size (cowtable.compact is the
# executable rewrite; this is the decision layer). Round-8 queue.
register(
    "compaction_plan",
    observability.compaction_plan,
    observability.COMPACTION_PLAN_ORACLE,
)
# NEW round 7: temporal split leakage audit — sessions spanning the
# train/test time cutoff leak future behavior into train features;
# per-day census + leaked post-cutoff event counts. Round-8 queue.
register(
    "temporal_split_audit",
    events.temporal_split_audit,
    events.TEMPORAL_SPLIT_AUDIT_ORACLE,
)
# NEW round 7: Okapi BM25 ranked retrieval over three keyword
# queries — the inverted-index probe shape; per-term contributions
# quantized to micro units so per-doc scores sum as exact integers.
# Round-8 queue.
register("bm25_topk", stats.bm25_topk, stats.BM25_TOPK_ORACLE)
# NEW round 7: exact-integer Pearson correlation matrix (feature
# redundancy screen; sufficient statistics as exact integer sums,
# one scan, one row). Round-8 queue.
register(
    "measure_correlations",
    stats.measure_correlations,
    stats.MEASURE_CORRELATIONS_ORACLE,
)
# NEW round 7: two-proportion A/B conversion z-test (parity split,
# high-value-purchase conversion, zero-variance guarded). Round-8
# queue.
register("ab_test_report", events.ab_test_report, events.AB_TEST_REPORT_ORACLE)
# NEW round 7: mutual information between categorical columns (the
# nonlinear dependence screen; per-cell contributions quantized to
# nano units, exact integer totals). Round-8 queue.
register(
    "mutual_information",
    stats.mutual_information,
    stats.MUTUAL_INFORMATION_ORACLE,
)
# NEW round 7: the streaming COW ingestion lifecycle — three batch
# arrivals drained through the foreachBatch sink (batch_id ledger in
# the transaction log), final snapshot audited per segment. Round-8
# queue.
register(
    "cow_stream_upsert",
    lakehouse.cow_stream_upsert,
    lakehouse.COW_STREAM_UPSERT_ORACLE,
)
# NEW round 7: CCNet-style per-language perplexity thirds (head/
# middle/tail under the corpus's own unigram LM; integer micro-score
# ranking, exact integer bucket edges). Round-8 queue.
register(
    "ccnet_perplexity_buckets",
    textops.ccnet_perplexity_buckets,
    textops.CCNET_PERPLEXITY_BUCKETS_ORACLE,
)
# gaps-and-islands over the order calendar (date - row_number key)
register("order_day_islands", windows.order_day_islands, windows.ORDER_DAY_ISLANDS_ORACLE)
# adoption curve: first-seen aggregate + cumulative window
register(
    "cumulative_new_users",
    windows.cumulative_new_users,
    windows.CUMULATIVE_NEW_USERS_ORACLE,
)

# --- New in round 5 (pytest-parity; registered past the window —
# novel shapes here rotate in next round) ---
# per-doc mean unigram log-likelihood + bits/token (the fully-SQL
# perplexity-proxy quality gate; vocab-broadcast scoring join)
# what dedup would buy, by duplicate-cluster size (tokens removable
# under keep-one-canonical; composes the CC plan + token counts)
# per-user interval-UNION coverage (sweep-line islands over fixed
# activity windows; one exchange on user_id)
# end-to-end entity resolution: FastSS match -> connected components
# -> survivorship, one composed plan (brute-force+recursive oracle)
# 2-D skyline / Pareto frontier: per-price max + running max over
# the distinct-price table (the O(n^2) dominance join lives only in
# the oracle)

# ROUND-6 ROTATION QUEUE (never driver-checked yet; novel shapes
# first): part_skyline, entity_resolution_customers,
# unigram_logprob_scores, bigram_surprisal_scores,
# user_activity_coverage, dedup_savings_report,
# cluster_balanced_sample, daily_user_sketch_rollup (rows-only),
# order_day_islands, cumulative_new_users, profile_columns,
# fk_discovery, partition_advisor, temperature_mixture_sample /
# leakage_safe_splits, daily_revenue_anomalies,
# daily_revenue_ewma, copurchase_bfs_layers, benford_order_totals,
# market_budget_allocation, event_trigrams, schema_evolution_union.
# Rotate out r05-green shape-covered entries (candidates: dim_date
# vs dim_address keep one, event_funnel, ann_ivf_topk vs ann_recall
# keep one, pii_pseudonymize vs secured_customers keep one,
# quality_filter vs text_quality keep one).
# cluster-balanced diversity sampling: distributed Lloyd assignment
# -> per-cluster md5-order quota (SemDeDup-family subset selection)
# bigram conditional surprisal (word-order-sensitive LM gate; the
# model is the broadcast collocation table, prefix totals derived
# from it with no second corpus scan)
# mergeable per-day HLL sketches + running union rollup (sketches
# are the persisted state; estimates engine-specific -> rows-only)
# BFS hop layers from a deterministic seed (frontier expansion —
# completes the iterative-graph trio; unrolled-CTE oracle)
# order-recursive EWMA smoothing as one per-series Catalyst fold
# (recursive-CTE oracle applies the identical float steps in order)
# Benford first-digit screen of order totals (chi-square terms per
# digit; pure string/log expressions, group-sized after one scan)
# exact integer allocation (largest-remainder/Hamilton): per-year
# budget distributed proportional to revenue, sums exact by
# construction
# near-dup leakage audit across content-fingerprint splits (LSH
# candidates x split assignment; the (train,test) row is the eval
# go/no-go)


# ======================================================================
# DRIVER CORRECTNESS WINDOW
# ======================================================================
# The driver records CORRECTNESS rows for the FIRST 50 registry
# entries only. ``registry.promote`` reorders the registry so the
# current list IS the window — rotations are one list edit (plus the
# pin in tests/test_driver_contract.py). Everything outside the window
# keeps identical DuckDB-oracle parity coverage in pytest
# (tests/conftest.py::assert_matches_oracle). Windows of rounds 3-12
# live in git history; ROUND13_WINDOW stays for the contract test's
# rotated-out pin.
#
# NET-ZERO-DEBT RULE (standing, adopted round 10 once the backlog hit
# zero): new query registrations per round MUST NOT exceed what the
# next 50-slot window can absorb alongside ~10 repeat representatives
# (realistically <= 20 new entries/round), and EVERY new registration
# enters the very next window as a first-timer. tools/rotation_queue.py
# is the audit: its "never-checked backlog" must print empty at each
# round boundary.

# ROUND 13: staleness rotation, continued. The window below is the 50
# entries with the OLDEST last-green driver round per
# tools/rotation_queue.py over the CORRECTNESS_r01–r12 union: the full
# r07 tail (19 — everything alphabetically after dedup_savings_report
# that round 12 didn't absorb) plus the alphabetical head of the r08
# cohort (31). No plan/oracle changes and no new registrations this
# round (net-zero trivially holds). Per the round-12 directive the
# rotation tool now treats rows-only estimates and their `_audit`
# twins as an ATOMIC PAIR — neither estimate is in this window (both
# freshly r12), so the pairing rule is moot here but enforced by
# tools/rotation_queue.py for every future window.
ROUND13_WINDOW = [
    # -- stalest greens: last driver row r07, alphabetical tail (19) --
    "entity_resolution_customers",
    "expectations_report",
    "fact_pit_customers",
    "fk_discovery",
    "gdpr_erasure_cascade",
    "join_size_estimate",
    "leakage_safe_splits",
    "market_budget_allocation",
    "part_skyline",
    "partition_advisor",
    "profile_columns",
    "quantile_sketch_rollup",
    "schema_evolution_union",
    "segment_revenue_trend",
    "simhash_recall_eval",
    "split_near_dup_leakage",
    "temperature_mixture_sample",
    "unigram_logprob_scores",
    "user_activity_coverage",
    # -- stalest greens: last driver row r08, alphabetical head (31) --
    "ab_test_report",
    "ann_ivf_pq",
    "ann_pq_adc",
    "asof_click_attribution",
    "bitext_margin_mining",
    "bm25_topk",
    "bpe_learn_merges",
    "bpe_vocab_compression",
    "ccnet_perplexity_buckets",
    "compaction_plan",
    "cow_stream_upsert",
    "cumulative_new_users",
    "curation_pipeline",
    "daily_revenue_anomalies",
    "dsir_importance_weights",
    "event_trigrams",
    "events_in_maintenance_windows",
    "events_session_window",
    "events_value_outliers",
    "fuzzy_match_fastss",
    "k_anonymity_audit",
    "layout_skipping_eval",
    "measure_correlations",
    "multitouch_attribution",
    "mutual_information",
    "order_day_islands",
    "part_pagerank",
    "revenue_cohorts",
    "sales_cube",
    "sales_employees_regions",
    "seasonality_segment",
]

# ROUND 14 (optimization round 2): the window leads with every query
# whose PLAN changed this round — the standing rule that a changed
# plan re-enters the very next window, so the driver independently
# oracle-verifies the riskiest edits (19: the star-CC rewrite and its
# consumers, the singleton-pass fusions, the co-purchase preamble
# rewrite, the skew-gated setsim salt, and the driver-thread overlap
# composites) — then fills to 50 with the stalest greens per
# tools/rotation_queue.py (r08 tail + r09 cohort, estimate/_audit
# pairs atomic; none due this window). No new registrations (net-zero
# trivially holds).
ROUND14_WINDOW = [
    # -- plan changed this round (19) --
    "dedup_clusters_smallstar",
    "dedup_bcubed_agreement",
    "entity_resolution_customers",
    "dedup_clusters",
    "cluster_representatives",
    "dedup_savings_report",
    "minhash_lsh_candidates",
    "crossmodal_near_dup",
    "split_near_dup_leakage",
    "minhash_recall_eval",
    "simhash_recall_eval",
    "part_pagerank",
    "kcore_membership",
    "copurchase_bfs_layers",
    "copurchase_triangles",
    "clustering_coefficients",
    "market_basket_pairs",
    "jaccard_prefix_pairs",
    "superset_containment",
    # -- stalest greens fill (31): r08 tail, then the r09 cohort --
    "secured_orders_slice",
    "simhash_near_dup_pairs",
    "temporal_split_audit",
    "weighted_sample_topk",
    "winsorized_segment_balances",
    "boilerplate_strip",
    "chisq_category_drift",
    "consistent_shard_rebalance",
    "corpus_report",
    "cusum_changepoint",
    "daily_ohlc",
    "dedup_normalized_docs",
    "domain_quota_sample_twophase",
    "duplicate_span_islands",
    "embedding_standardize",
    "exact_percentile_twopass",
    "kaplan_meier_churn",
    "kcenter_coreset",
    "kmv_audience_overlap",
    "ks_drift_statistic",
    "multimodal_decode_stats",
    "price_volume_mix",
    "psi_event_drift",
    "quantile_normalization",
    "rank_fusion_rrf",
    "retrieval_ndcg_eval",
    "revenue_gini",
    "shapley_channel_attribution",
    "split_semantic_leakage",
    "stream_static_enrichment",
    "target_encoding_loo",
]

registry.promote(ROUND14_WINDOW)
