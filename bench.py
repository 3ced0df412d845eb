"""Benchmark runner — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE COMPACT JSON line: {"metric": ..., "value": N,
"value_normalized": N', "unit": "sec", "queries": {<headline only>},
"extras": {summary}, "canary": {...}, "sf": ...}. ``value`` is the raw
graded headline; ``value_normalized`` rescales it to the frozen
reference host via the cpu canary (see CANARY_CPU_REF_S). The full
per-extra-query timings land in
``BENCH_DETAIL.json`` next to this file — the stdout line is kept
under ~1800 chars because the driver parses it out of a ~2000-char
stdout tail (round 7's full line overflowed that and was recorded
unparsed).

Each query is executed with a `noop` sink write so the full plan runs
JVM-side (scan → joins → aggregation) without driver materialization.

Methodology: 3 INTERLEAVED rounds over the HEADLINE set, reporting
the per-query minimum. Interleaving (rather than back-to-back
best-of-N per query) decorrelates the minimum from transient host
load — this sandbox is a shared VM whose available CPU swings 4x+
between windows, and consecutive runs of one query land in the same
window. The (much larger) EXTRA set rides TWO of those rounds (the
first and the last, maximally separated in time) and reports
per-query minima too — a single timing made every VM hiccup read as
a regression; two spaced rounds bound that noise without tripling
the bench's wall clock. The second extras round is BUDGET-GATED
($SPARK_GRAFT_BENCH_BUDGET_S, default 300 s elapsed before it
starts): on a contended host the bench degrades gracefully to
min-of-1 extras instead of overrunning the harness timeout —
headline minima (the graded number) always get all three rounds.

``HEADLINE`` is frozen to the round-1 set: BASELINE.md defines the
bar as 2x of the first recorded total over exactly these queries, so
the total must stay apples-to-apples. Every other timed query is in
``EXTRA``, timed identically but reported under ``extra_queries`` and
excluded from ``value``. ``EXTRA`` is derived, not listed: every
registered query, in registry order, that is in neither ``HEADLINE``
nor ``BENCH_EXEMPT``, then the unregistered ``VARIANTS``. A new
registration is timed unless it argues an exemption in
``BENCH_EXEMPT``.

HOST-SPEED CANARY: rounds 4-5 measured a compounding ~1.25x -> ~1.7x
uniform slowdown on plan files untouched since round 1 — host decay,
not regressions — so every bench now reports a ``canary`` object:
a FROZEN single-thread pure-CPU loop and a FROZEN inline Spark
aggregation (written here, never a registered plan, so no plan edit
can touch it), each timed once per interleaved round (min + max
reported, plus the 1-minute load average). Dividing the headline
total by (canary.cpu_s / its round-6 reference, recorded in
SCALE.md) separates plan regressions from machine drift. DO NOT EDIT
the canary bodies — their whole value is being identical forever.

``extra_passes`` annotates how many timing passes each extra query
got (the budget gate can reduce late-listed extras to min-of-1 on
a contended host; a min-of-1 delta is noise, not a regression).
Since round 9 the second pass runs slowest-first and the 15
slowest extras (by first-pass time — a margin over the graded
top-10-by-min) are EXEMPT from the budget gate: their
round-over-round deltas are the graded ones, so they must always be
min-of-2.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)
# Spark PYTHON WORKERS (mapInPandas/applyInPandas plans) re-import the
# package in a fresh interpreter whose sys.path comes from PYTHONPATH +
# cwd — when the bench is launched from outside the repo, the workers
# would otherwise die with ModuleNotFoundError. Export before the
# session is built so local-mode workers inherit it.
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from global_superstore_data_warehouse_spark import get_spark, registry  # noqa: E402
from global_superstore_data_warehouse_spark.plans.events import (  # noqa: E402
    event_transitions_pandas,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set (FROZEN — the BASELINE.md comparable): the flagship
# views + the heaviest operator families (warehouse build, wide star
# join, text dedup, similarity search, event-time analytics).
HEADLINE = [
    "yearly_sales_profit",
    "sales_employees_regions",
    "pricing_summary",
    "demand_category_region",
    "seasonality_segment",
    "fact_orders",
    "order_details_wide",
    "minhash_lsh_candidates",
    "cosine_topk",
    "events_sessionize",
    "vocab_topk",
]

# Registered queries DELIBERATELY not benched, each with the
# single-pass sf0.1 time measured when the decision was made (round
# 13, warm session, local[32]) and why timing it per-round adds no
# signal: these are fixed-cost-dominated micro-plans (session + plan
# construction + a scan and at most one or two small shuffles) whose
# operator shapes are already timed through a heavier benched query.
# EXTRA below is derived from the registry minus HEADLINE and this
# dict, so a new registration is timed by default; leaving one untimed
# takes an exemption argued here, with its measured time.
BENCH_EXEMPT = {
    # -- 1.0-1.5 s: light but shape-covered by a benched twin --
    "rolling_7d_sales": "1.44 s at sf0.1 (r13); rolling day-range window over a daily pre-agg — window-over-days shape benched via daily_revenue_ewma",
    "dm_scd2_propagation": "1.34 s at sf0.1 (r13); SCD2 merge + star re-join propagation — merge machinery benched via cow_merge_upsert/mor_merge_upsert, star join via demand_category_region",
    "conform_two_sources": "1.29 s at sf0.1 (r13); union-then-conform of two sources — additive-union shape benched via schema_evolution_union",
    "cdc_apply_orders": "1.26 s at sf0.1 (r13); ordered change-log fold + key upsert — log-fold/merge machinery benched via cow_change_feed and mor_merge_upsert",
    "scd2_snapshot_diff": "1.14 s at sf0.1 (r13); two-snapshot full-outer diff — full-outer+coalesce shape benched via golden_record_customers",
    "revenue_cohorts": "1.07 s at sf0.1 (r13); cohort-month grid groupBy — GROUP-BY-expression shape benched via seasonality_segment",
    "qa_duplicates_any_table": "1.03 s at sf0.1 (r13); templated HAVING>1 dup scan across tables — per-column scan family benched via profile_columns",
    "customer_ltv_deciles": "1.02 s at sf0.1 (r13); ntile decile window over customer aggregates — rank-window family benched via quality_percentiles",
    "top_employees_per_year": "1.00 s at sf0.1 (r13); rank-per-group window — same shape benched via best_month_per_segment",
    # -- sub-second: fixed-cost dominated at sf0.1 --
    "priority_price_quantiles": "0.97 s at sf0.1 (r13); grouped percentile_approx — quantile family benched via quantile_sketch_rollup",
    "corpus_report": "0.93 s at sf0.1 (r13); multi-stat corpus roll-up composed of benched parts (token stats via vocab_topk, quality via quality_percentiles)",
    "surrogate_keys_customers": "0.93 s at sf0.1 (r13); size-gated key assignment on the 1.5k-row dim — fixed cost; distributed path property-pinned in tests/test_warehouse.py",
    "partition_advisor": "0.91 s at sf0.1 (r13); stats-scan + advisory projection, metadata-sized output — scan family benched via layout_skipping_eval",
    "cohort_retention": "0.88 s at sf0.1 (r13); first-touch window + month-grid groupBy — cohort shape shared with exempt revenue_cohorts, window family benched via temporal_split_audit",
    "dq_report": "0.87 s at sf0.1 (r13); single-scan data-quality aggregates — per-column profiling benched via profile_columns and expectations_report",
    "sales_rollup": "0.86 s at sf0.1 (r13); grouped SUM rollup — the benched yearly_sales_profit/demand_category_region aggregate shape on fewer keys",
    "simhash_docs": "0.85 s at sf0.1 (r13); per-doc simhash projection (no pair join) — the pair-join consumer simhash_near_dup_pairs is benched",
    "segment_sales": "0.85 s at sf0.1 (r13); one grouped SUM over the star view — shape benched via sales_employees_regions",
    "scd2_two_load_lifecycle": "0.84 s at sf0.1 (r13); chains the scd2_customers merge twice on the 1.5k dim — fixed-cost dominated; merge family benched via cow/mor_merge_upsert",
    "event_trigrams": "0.82 s at sf0.1 (r13); zero-shuffle n-gram explode+count — same family as benched bpe_pair_counts",
    "daily_revenue_anomalies": "0.78 s at sf0.1 (r13); daily pre-agg + z-score window — day-window family benched via daily_revenue_ewma and cusum_changepoint",
    "scd2_customers": "0.74 s at sf0.1 (r13); SCD2 two-phase merge on the 1.5k-row dim — fixed-cost dominated; driver hash-green r12",
    "nearest_purchase_to_error": "0.73 s at sf0.1 (r13); as-of join to nearest prior event — as-of family benched via asof_click_attribution",
    "quality_filter": "0.71 s at sf0.1 (r13); single-scan doc quality predicate — timed inside the benched curation_pipeline composite",
    "scd2_employees": "0.70 s at sf0.1 (r13); SCD2 merge on the tiny employee dim — same exempt rationale as scd2_customers",
    "event_funnel": "0.67 s at sf0.1 (r13); ordered step-window funnel — sessionized-window shape benched via events_sessionize (headline)",
    "dim_geography": "0.64 s at sf0.1 (r13); FK-lookup left joins over tiny dims — fixed-cost dominated; driver hash-green r12",
    "events_session_window": "0.63 s at sf0.1 (r13); session-gap window — the headline events_sessionize IS this shape at full weight",
    "events_json_props": "0.56 s at sf0.1 (r13); JSON property extraction scan — pure projection, no shuffle",
    "parse_dates": "0.55 s at sf0.1 (r13); to_date projection micro-op, no shuffle",
    "lineitem_measures_unpivot": "0.53 s at sf0.1 (r13); stack() unpivot scan — pure projection, no shuffle",
    "scd2_products": "0.53 s at sf0.1 (r13); SCD2 merge on the product dim — same exempt rationale as scd2_customers",
    "dim_market": "0.52 s at sf0.1 (r13); tiny dim build (distinct over region/nation) — fixed cost only",
    "daily_ohlc": "0.52 s at sf0.1 (r13); per-day min/max/first/last agg — day-agg family benched via daily_revenue_ewma",
    "events_sliding": "0.50 s at sf0.1 (r13); sliding-window event counts — windowed-agg family benched via events_in_maintenance_windows",
    "tpch_custdist": "0.50 s at sf0.1 (r13); outer-join + histogram groupBy — TPC-H decorrelation family benched via tpch_avg_yearly",
    "winsorized_segment_balances": "0.50 s at sf0.1 (r13); per-segment percentile clamp + agg — quantile family benched via quantile_sketch_rollup",
    "scd1_upsert_customers": "0.47 s at sf0.1 (r13); SCD1 upsert on the 1.5k dim — MERGE machinery benched via cow_merge_upsert",
    "dim_product_hierarchy": "0.46 s at sf0.1 (r13); distinct hierarchy build over part — tiny-dim fixed cost",
    "cumulative_new_users": "0.46 s at sf0.1 (r13); first-seen + cumulative window — cumulative-day shape benched via ks_drift_statistic",
    "sales_pivot": "0.46 s at sf0.1 (r13); pivot over segments — grouped-agg family benched via sales_employees_regions (headline)",
    "qa_rowcounts": "0.45 s at sf0.1 (r13); count-only scans per table — pure fixed cost",
    "secured_orders_slice": "0.45 s at sf0.1 (r13); slicer-pushdown filtered scan — predicate-pushdown evidence pinned in tests/test_security.py",
    "dedup_normalized_docs": "0.44 s at sf0.1 (r13); normalize-then-hash exact dedup — the benched dedup family (dedup_incremental, minhash_lsh_candidates) carries the weight",
    "psi_event_drift": "0.44 s at sf0.1 (r13); binned PSI over two windows — drift family benched via ks_drift_statistic/chisq_category_drift",
    "events_hourly": "0.42 s at sf0.1 (r13); hourly truncate + groupBy — day/hour-agg family benched via daily_users_kmv",
    "fact_pit_customers": "0.41 s at sf0.1 (r13); point-in-time residual join against the SCD2 dim — fixed-cost dominated at this dim size; driver hash-green r13 window",
    "order_day_islands": "0.41 s at sf0.1 (r13); gaps-and-islands day grouping — ordered-window family benched via events_sessionize (headline)",
    "new_customers": "0.40 s at sf0.1 (r13); left-anti probe vs the 1995 order book — anti-join micro-plan, fixed cost; driver hash-green r12",
    "sales_cube": "0.40 s at sf0.1 (r13); CUBE with GROUPING flags — grouped-agg family benched via seasonality_segment (headline)",
    "embedding_standardize": "0.38 s at sf0.1 (r13); per-dim mean/std broadcast + vector rescale projection — embedding scans benched via cosine_topk (headline)",
    "merged_entities": "0.37 s at sf0.1 (r13); full-outer + coalesce on the 1.5k dim — shape benched via golden_record_customers at the same scale family",
    "lang_id": "0.36 s at sf0.1 (r13); n-gram heuristic language-ID projection — single scan, no shuffle",
    "priority_distribution": "0.35 s at sf0.1 (r13); one groupBy histogram — pure fixed cost",
    "multimodal_frame_sample": "0.35 s at sf0.1 (r13); frame-sampling plumbing over binary columns — the real decode weight is benched via video_frame_sample_stats",
    "top_events_per_user": "0.35 s at sf0.1 (r13); rank-per-user window — rank family benched via best_month_per_segment",
    "text_quality": "0.34 s at sf0.1 (r13); punct/stopword ratio projection — timed inside the benched curation_pipeline composite",
    "temperature_mixture_sample": "0.34 s at sf0.1 (r13); softmax-weighted source mixture sample — weighted-sampling family benched via weighted_sample_topk and unimax_language_budgets",
    "join_skew_report": "0.33 s at sf0.1 (r13); key-histogram skew probe — metadata-sized output, scan family benched via join_size_estimate",
    "events_value_outliers": "0.33 s at sf0.1 (r13); robust z-score outlier filter — one pre-agg + projection; drift/outlier family benched via cusum_changepoint",
    "multimodal_resize": "0.33 s at sf0.1 (r13); resize plumbing over binary image columns — decode weight benched via multimodal_decode_stats",
    "doc_fingerprints": "0.31 s at sf0.1 (r13); rolling-hash fingerprint projection — consumer shapes benched via winnowing_matches",
    "customers_with_orders": "0.31 s at sf0.1 (r13); left-semi existence probe — semi-join micro-plan, fixed cost",
    "domain_quota_sample_twophase": "0.30 s at sf0.1 (r13); two-phase exact quota sampler — heavier single-phase twin domain_quota_sample also exempt; sampling family benched via weighted_sample_topk",
    "types_in_both_halves": "0.29 s at sf0.1 (r13); INTERSECT over part types — set-op micro-plan, fixed cost",
    "union_all_segments": "0.26 s at sf0.1 (r13); UNION ALL projection — no shuffle at all",
    "dim_date": "0.25 s at sf0.1 (r13); sequence-generated calendar dim — bounds scan + generator, fixed cost; driver hash-green r12",
    "dedup_exact_docs": "0.24 s at sf0.1 (r13); hash-groupBy exact dedup — one shuffle; the benched dedup family carries the scale claim",
    "leakage_safe_splits": "0.23 s at sf0.1 (r13); group-hash split assignment projection — leakage auditing benched via split_near_dup_leakage",
    "token_stats": "0.22 s at sf0.1 (r13); whitespace/BPE-regex token counting projection — corpus-scan family benched via vocab_topk (headline)",
    "embedding_centroids": "0.21 s at sf0.1 (r13); per-cluster mean aggregate — k-means family benched via kmeans_assign",
    "types_missing_from_sample": "0.20 s at sf0.1 (r13); EXCEPT over part types — set-op micro-plan, fixed cost",
    "domain_quota_sample": "0.20 s at sf0.1 (r13); per-domain quota sample — sampling family benched via weighted_sample_topk",
    "training_shards": "0.20 s at sf0.1 (r13); deterministic shard assignment projection — consumer of the benched curation family",
    "clean_dirty_ids": "0.19 s at sf0.1 (r13); regexp-strip micro-op — string path benched via boilerplate_strip",
    "duplicate_orders": "0.17 s at sf0.1 (r13); HAVING COUNT>1 groupBy — one tiny shuffle, fixed cost",
    "distinct_union_brands": "0.16 s at sf0.1 (r13); UNION distinct — one tiny shuffle, fixed cost",
    "secured_customers_analyst": "0.13 s at sf0.1 (r13); masked-view projection — RLS/masking correctness pinned in tests/test_security.py",
    "deterministic_sample": "0.13 s at sf0.1 (r13); hash-ordered deterministic sample scan — fixed cost",
    "split_names": "0.11 s at sf0.1 (r13); string split/concat micro-op — no shuffle",
    "pii_pseudonymize_customers": "0.11 s at sf0.1 (r13); sha2 pseudonymization projection — no shuffle",
    "stratified_sample": "0.10 s at sf0.1 (r13); per-stratum hash-ordered sample — fixed cost",
}

# Unregistered equivalence twins, timed next to their registered plans:
# the grouped-pandas formulation of event_transitions keeps its
# Arrow-round-trip cost visible beside the JVM lag-window plan.
VARIANTS = {"event_transitions_pandas": event_transitions_pandas}

# Extended set: reported, not in the baseline total.
EXTRA = [
    n for n in registry.queries() if n not in HEADLINE and n not in BENCH_EXEMPT
] + list(VARIANTS)

ROUNDS = 3


# INHERENT-COST extras (round-12 decision, after three rounds of
# re-profiling the same slowest-5): these queries' cost is the work
# they exist to do, not a plan defect — BENCH_DETAIL carries this map
# so future rounds stop re-attributing them. Reduction attempts are
# recorded in SCALE.md; re-open one only if its sf0.1 time moves >1.5x
# against the cpu canary.
INHERENT_COST = {
    "dedup_bcubed_agreement": (
        "runs BOTH dedup passes by definition (it compares them); "
        "collapses to contingency cells in one doc-scale groupBy, "
        "checkpointed — the duplicated pass IS the audit"
    ),
    "video_frame_sample_stats": (
        "pure-Python JPEG IDCT per sampled frame is the documented "
        "per-core tax (codec constant already cut 2-3x in round 11); "
        "the pure-Python decoder is the only backend"
    ),
    "jaccard_prefix_pairs": (
        "exact-join GROUND TRUTH for the PPJoin pruning filters; the "
        "verify join's output is inherently quadratic on this "
        "saturated-vocabulary corpus (the join itself is milliseconds "
        "after class-collapse)"
    ),
    "clustering_coefficients": (
        "degree-ordered wedge enumeration — output-sized cost on a "
        "dense co-purchase graph; the ordering already minimizes "
        "wedge count"
    ),
    "stream_interval_join_attribution": (
        "round-14 profiling (per-microbatch durationMs): ONE "
        "availableNow drain, but the stream-stream join runs two "
        "microbatches by design — the data batch (addBatch ~5 s: "
        "watermarked dual-sided state-store writes across the "
        "shuffle-partition-many stores) plus the zero-row watermark-"
        "finalization batch (~3 s of the same state machinery). "
        "That state/commit lifecycle is what the operator exists to "
        "exercise; shrinking state partitions to the local core "
        "count would be a config-only local win"
    ),
}

# Frozen canary reference (round 6, first measurement on the recording
# host; documented in SCALE.md §"Round 6: host-speed canary"). The JSON
# line's ``value_normalized`` is value / (canary.cpu_s / this) — the
# headline rescaled to reference-host speed, so a verdict comparing
# rounds never again has to hand-divide out a contended grading host
# (round-11 lesson: a loadavg-7.9 run read as a 1.10x regression that
# a quiet-host rerun showed was 0.86x). The RAW ``value`` remains the
# graded number; the normalized one is the trend signal. DO NOT EDIT
# the reference — its value is being identical forever.
CANARY_CPU_REF_S = 0.897


def _cpu_canary_s() -> float:
    """FROZEN single-thread CPU probe (~0.7 s on an idle core).
    Allocation-free integer work; immune to Spark, disk, and plan
    changes — only host speed and contention move it. DO NOT EDIT."""
    t0 = time.perf_counter()
    x = 0
    for i in range(8_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _spark_canary_s(spark) -> float:
    """FROZEN inline Spark probe: one fixed aggregation over lineitem,
    deliberately NOT a registered plan so no operator work can ever
    change it. Times the scan+shuffle+agg machinery only. DO NOT
    EDIT."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _timed_run(spark, fn) -> float:
    """Seconds to build ``fn``'s DataFrame at SF_DIR and run it into a
    noop sink. Construction, including any eager checkpoint of reused
    frames, counts: it is real query work, not session setup."""
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    from global_superstore_data_warehouse_spark.profiling import (
        EventLog,
        max_concurrency,
        parse,
    )

    spark = get_spark("gsdw-bench")
    qs = {**registry.queries(), **VARIANTS}

    # Warm-up (not timed): JVM + parquet footers, plus one tiny-SF
    # pass over each HEADLINE query so whole-stage codegen is JIT'd
    # before measurement — the timed numbers are steady-state. The
    # EXTRA set self-warms: it is timed min-of-2 spaced rounds, so
    # its first (cold) timing never wins the minimum — and warming
    # ~45 extra queries was pure wall-clock against the bench budget.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_sf).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "300"))
    t_start = time.perf_counter()
    timings: dict[str, float] = {}
    extra_timings: dict[str, float] = {}
    extra_passes: dict[str, int] = {}
    headline_concurrency: dict[str, int] = {}
    cpu_canaries: list[float] = []
    spark_canaries: list[float] = []
    for rnd in range(ROUNDS):
        # host-speed canary at the start of every interleaved round
        cpu_canaries.append(_cpu_canary_s())
        spark_canaries.append(_spark_canary_s(spark))
        # the frozen HEADLINE runs in every interleaved round
        # (per-query minima decorrelate the shared-VM noise); the
        # grown EXTRA set runs in the first and last rounds —
        # min-of-2 spaced timings, so one VM hiccup can't masquerade
        # as a plan regression — with the second pass budget-gated
        # so a contended host degrades to min-of-1 instead of
        # overrunning the harness timeout
        batch = [(n, timings) for n in HEADLINE]
        guaranteed: set[str] = set()
        if rnd == 0:
            batch += [(n, extra_timings) for n in EXTRA]
        elif rnd == ROUNDS - 1:
            # Second pass runs SLOWEST-FIRST (by first-pass timing),
            # and the slowest are exempt from the budget gate:
            # their round-over-round deltas are the graded ones, so
            # they must always be min-of-2 (round-8 lesson — a whole
            # round of min-of-1 extras deltas was ungradeable noise).
            ordered = sorted(
                EXTRA, key=lambda n: -extra_timings.get(n, 0.0)
            )
            # guarantee 15, not 10: ranking here uses FIRST-pass
            # times, but the graded top-10 is by final min — minima
            # drop unevenly, so a 5-entry margin keeps the graded set
            # covered (observed at sf0.1: 3 of the final top-10 sat
            # just below a top-10 first-pass cut)
            guaranteed = set(ordered[:15])
            batch += [(n, extra_timings) for n in ordered]
        for name, sink in batch:
            # budget gate on EXTRA timings: on a badly contended host
            # remaining extras are skipped so the graded headline JSON
            # always lands inside the harness timeout — already-
            # collected extra timings still report (the guaranteed
            # slowest-15 second passes run regardless; they are
            # bounded by one extras-tail's worth of work, and the
            # closing loop below re-runs any min-of-1 straggler that
            # reaches the final top-10)
            if (
                sink is extra_timings
                and name not in guaranteed
                and time.perf_counter() - t_start > budget_s * 1.4
            ):
                continue
            if sink is timings:
                # headline timings run inside an event-log region; the
                # peak task concurrency is computed from it afterwards
                # (max across rounds)
                with tempfile.TemporaryDirectory() as log_dir:
                    with EventLog(spark, log_dir) as log:
                        el = _timed_run(spark, qs[name])
                    peak = max_concurrency(parse(log.events()).intervals)
                headline_concurrency[name] = max(
                    headline_concurrency.get(name, 0), peak
                )
            else:
                el = _timed_run(spark, qs[name])
            prev = sink.get(name)
            sink[name] = round(el if prev is None else min(prev, el), 3)
            if sink is extra_timings:
                extra_passes[name] = extra_passes.get(name, 0) + 1

    # CLOSING GUARANTEE, derived from the graded metric itself: the
    # top-10 extras BY FINAL MIN must all be min-of-2. The slowest-15
    # pre-exemption above ranks by FIRST-pass time, so on a contended
    # host the budget gate can leave a min-of-1 entry that lands in
    # the final top-10 (needs only 6 of the 15 guaranteed minima to
    # drop below it). Re-run exactly those until fixed point — each
    # entry gets at most one extra pass, so this terminates after at
    # most len(extras) reruns, and in practice runs 0-2 queries.
    while True:
        top10 = sorted(extra_timings, key=lambda n: -extra_timings[n])[:10]
        pending = [n for n in top10 if extra_passes.get(n, 0) < 2]
        if not pending:
            break
        for name in pending:
            el = _timed_run(spark, qs[name])
            extra_timings[name] = round(min(extra_timings[name], el), 3)
            extra_passes[name] = extra_passes.get(name, 0) + 1

    # No silent caps: the budget gate may skip extras entirely on a
    # badly contended host (observed in the round-13 gate run: 7 of
    # 147 never got a first pass at loadavg 4). Report WHO was
    # dropped — a missing timing must read as "skipped under load",
    # never as "covered".
    extra_skipped = sorted(n for n in EXTRA if n not in extra_timings)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    total = round(sum(timings.values()), 3)
    # min-of-rounds cpu canary ~= the least-contended moment this run
    # saw; dividing by the frozen reference rescales the headline to
    # reference-host speed (see CANARY_CPU_REF_S)
    # Degenerate-canary fallback (round-12 ADVICE): normalization
    # factor 1.0 — consumers never see null, and the driver-contract
    # test's > 0 assertion holds on any host.
    total_normalized = (
        round(total / (min(cpu_canaries) / CANARY_CPU_REF_S), 3)
        if cpu_canaries and min(cpu_canaries) > 0
        else total
    )
    canary = {
        "cpu_s": round(min(cpu_canaries), 3),
        "cpu_s_max": round(max(cpu_canaries), 3),
        "spark_probe_s": round(min(spark_canaries), 3),
        "spark_probe_s_max": round(max(spark_canaries), 3),
        "loadavg_1m": load1,
    }
    # FULL detail (every extra timing + pass counts) goes to a side
    # file; the stdout contract line stays COMPACT. Round 7 lesson:
    # the driver records only a ~2000-char tail of stdout and parses
    # the JSON line out of it — with ~75 extra queries the one-line
    # JSON outgrew that window and BENCH_r07.json landed with
    # "parsed": null (rc=0, the line itself was valid). The graded
    # headline number must never again ride on extras volume, so the
    # final line carries: metric/value/unit, the 11 headline
    # timings, the canary, sf, and only an extras SUMMARY
    # (count + total + slowest 5) with a pointer to the detail file.
    # $SPARK_GRAFT_BENCH_DETAIL redirects the detail file — the
    # driver-contract test uses it so a routine pytest run can't
    # clobber the committed sf0.1 grading artifact with sf0.001 output
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "value_normalized": total_normalized,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra_timings,
        "extra_passes": extra_passes,
        # peak tasks running at once per headline query, over its
        # timings: a flat low-core wall ratio with a low peak reads as
        # "fixed-cost-bound", not "CPUs ignored"
        "headline_max_concurrency": headline_concurrency,
        "extras_budget_skipped": extra_skipped,
        "inherent_cost": {
            n: why for n, why in INHERENT_COST.items() if n in extra_timings
        },
        "canary": canary,
        "sf": _sf_from_dir(SF_DIR),
    }
    detail_ref: str | None = (
        detail_path
        if os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
        else "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        # Never advertise a detail file this run didn't write: a
        # stale BENCH_DETAIL.json from an earlier run would silently
        # mismatch the headline the compact line reports.
        detail_ref = None
    slowest = dict(
        sorted(extra_timings.items(), key=lambda kv: -kv[1])[:5]
    )
    compact = {
        "metric": "headline_queries_total_time",
        "value": total,
        "value_normalized": total_normalized,
        "unit": "sec",
        "queries": timings,
        "extras": {
            "n": len(extra_timings),
            "total": round(sum(extra_timings.values()), 2),
            "skipped": len(extra_skipped),
            "slowest": slowest,
            "detail": detail_ref,
        },
        "canary": canary,
        "sf": _sf_from_dir(SF_DIR),
    }
    line = json.dumps(compact)
    if len(line) > 1800:  # belt-and-braces: never outgrow the tail
        compact.pop("extras", None)
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
