"""Pipeline observability operators: join-key skew diagnostics,
population-stability (distribution drift) reports, and a one-pass
per-column table profiler.

Both are "run before you scale" tools: the skew report is what you
consult before choosing broadcast/salt/AQE strategy for a 100 TB
join (AQE's skew split is the default remedy; this is the
diagnosis), and the PSI report is the standing data-quality monitor
that catches a silently drifting upstream feed before it poisons a
training run.

Scale shapes: both are two-stage aggregations — a keyed partial
aggregate that map-side-combines to one row per key/group, then a
tiny global aggregate over those rows. No corpus-sized shuffle, no
window over the full data, output bounded by the key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.operators.hints import spread_scan


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew profile of the lineitem→part join key: number of
    distinct keys, total rows, mean/max/p99 rows-per-key, the share
    of rows carried by the heaviest key, and the max/mean skew ratio.

    Decision thresholds (the point of the report): skew_ratio near 1
    → plain hash join partitions evenly; a heavy top_key_share →
    let AQE's skew split handle it, or salt that key as setsim's
    token-block join does (``setsim._salted_block_join``);
    n_keys small enough → the other side is broadcastable.

    Plan: groupBy(key).count() partial-aggregates to one row per key,
    then a single global aggregate — the report costs one scan plus a
    keys-sized shuffle regardless of table size. ``percentile`` on
    the per-key counts is exact here; at extreme key cardinality the
    documented swap-in is ``percentile_approx`` (fixed-size sketch).
    """
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("rows_per_key"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("rows_per_key").alias("total_rows"),
        F.round(F.avg("rows_per_key"), 6).alias("mean_rows"),
        F.max("rows_per_key").alias("max_rows"),
        F.round(F.expr("percentile(rows_per_key, 0.99)"), 6).alias("p99_rows"),
        F.round(F.max("rows_per_key") / F.sum("rows_per_key"), 6).alias("top_key_share"),
        F.round(F.max("rows_per_key") / F.avg("rows_per_key"), 6).alias("skew_ratio"),
    )


JOIN_SKEW_REPORT_ORACLE = """
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(rows_per_key) AS BIGINT) AS total_rows,
           ROUND(AVG(rows_per_key), 6) AS mean_rows,
           MAX(rows_per_key) AS max_rows,
           ROUND(quantile_cont(rows_per_key, 0.99), 6) AS p99_rows,
           ROUND(CAST(MAX(rows_per_key) AS DOUBLE) / SUM(rows_per_key), 6)
               AS top_key_share,
           ROUND(CAST(MAX(rows_per_key) AS DOUBLE) / AVG(rows_per_key), 6)
               AS skew_ratio
    FROM (
        SELECT l_partkey, COUNT(*) AS rows_per_key
        FROM lineitem GROUP BY l_partkey
    )
"""


# --- population stability (drift) -------------------------------------

# Laplace-style floor so a type absent from one period contributes a
# large-but-finite PSI term instead of ±infinity.
PSI_EPS = 1e-6


def psi_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-type mix, weekday vs
    weekend traffic: per type, p = weekday share, q = weekend share,
    psi_term = (p − q) · ln(p / q); the monitor alarms on
    Σ psi_term (> 0.1 investigate, > 0.25 act — the standard PSI
    rule of thumb). One row per event type so the report shows WHICH
    type drifted, not just that something did.

    Plan: one partial-aggregated groupBy(event_type, is_weekend) to a
    handful of rows, pivoted by conditional sums, shares computed
    against broadcast-sized totals — the corpus is scanned once and
    never re-shuffled. Spark's ``dayofweek`` is 1=Sunday..7=Saturday;
    the oracle's DuckDB ``dayofweek`` is 0=Sunday..6=Saturday — both
    sides encode "Saturday or Sunday" natively.
    """
    ev = load(spark, sf_dir, "events")
    is_weekend = F.dayofweek("ts").isin(1, 7)
    counts = (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.when(~is_weekend, 1).otherwise(0)).alias("weekday_n"),
            F.sum(F.when(is_weekend, 1).otherwise(0)).alias("weekend_n"),
        )
    )
    tot = counts.agg(
        F.sum("weekday_n").alias("weekday_tot"), F.sum("weekend_n").alias("weekend_tot")
    )
    p = F.greatest(F.col("weekday_n") / F.col("weekday_tot"), F.lit(PSI_EPS))
    q = F.greatest(F.col("weekend_n") / F.col("weekend_tot"), F.lit(PSI_EPS))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "weekday_n",
            "weekend_n",
            F.round(p, 6).alias("p_weekday"),
            F.round(q, 6).alias("q_weekend"),
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
    )


PSI_EVENT_DRIFT_ORACLE = f"""
    WITH counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
                    AS BIGINT) AS weekday_n,
               CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS weekend_n
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(weekday_n) AS BIGINT) AS weekday_tot,
               CAST(SUM(weekend_n) AS BIGINT) AS weekend_tot
        FROM counts
    )
    SELECT event_type, weekday_n, weekend_n,
           ROUND(p, 6) AS p_weekday,
           ROUND(q, 6) AS q_weekend,
           ROUND((p - q) * ln(p / q), 6) AS psi_term
    FROM (
        SELECT event_type, weekday_n, weekend_n,
               GREATEST(CAST(weekday_n AS DOUBLE) / weekday_tot, {PSI_EPS}) AS p,
               GREATEST(CAST(weekend_n AS DOUBLE) / weekend_tot, {PSI_EPS}) AS q
        FROM counts, tot
    )
"""


# --- per-column table profiler ----------------------------------------

# (column, kind) — kind picks the min/max representation: numerics
# cast to DOUBLE, timestamps to epoch seconds (DOUBLE), strings get
# NULL bounds (a lexicographic min/max would hostage the hash to
# engine collation differences; null%/distinct are the string
# signals that matter for profiling).
PROFILE_COLUMNS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of ``orders`` — one row per column with
    null_count, exact distinct count, and numeric/epoch min-max —
    the standing "what does this feed look like" report run before
    pointing a pipeline at a new table.

    Plan shape: ONE aggregation pass computes every per-column
    statistic as a separate aggregate expression (Catalyst plans the
    multiple COUNT(DISTINCT)s via a single Expand — still one scan,
    one shuffle), then the 1-row result is exploded into the long
    (column_name, stats) form driver-side-free. At extreme
    cardinality the documented swap-in is ``approx_count_distinct``
    (HLL sketch, fixed memory) for the distinct column — the Expand
    multiplies the shuffle by the distinct-agg count, which is the
    one part of this plan that grows with profiling width.
    """
    orders = load(spark, sf_dir, "orders")
    aggs = []
    for c, kind in PROFILE_COLUMNS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__nd"))
        if kind == "num":
            aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__max"))
        elif kind == "ts":
            # parquet naive timestamps arrive as TIMESTAMP_NTZ, which
            # has no direct double cast; NTZ -> LTZ under the UTC
            # session tz, then -> epoch seconds, matches DuckDB's
            # epoch() over the same naive value exactly
            for agg, suffix in ((F.min, "min"), (F.max, "max")):
                aggs.append(
                    agg(F.col(c))
                    .cast("timestamp_ltz")
                    .cast("double")
                    .alias(f"{c}__{suffix}")
                )
    row = orders.agg(*aggs)
    entries = []
    for c, kind in PROFILE_COLUMNS:
        null_bound = F.lit(None).cast("double")
        entries.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").alias("null_count"),
                F.col(f"{c}__nd").alias("n_distinct"),
                (F.col(f"{c}__min") if kind != "str" else null_bound).alias("min_value"),
                (F.col(f"{c}__max") if kind != "str" else null_bound).alias("max_value"),
            )
        )
    return row.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


def _profile_oracle() -> str:
    parts = []
    for c, kind in PROFILE_COLUMNS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        elif kind == "ts":
            mn, mx = f"epoch(MIN({c}))", f"epoch(MAX({c}))"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS column_name,\n"
            f"       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS null_count,\n"
            f"       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"       {mn} AS min_value,\n"
            f"       {mx} AS max_value\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


PROFILE_COLUMNS_ORACLE = _profile_oracle()


# --- FK-containment discovery ----------------------------------------

# (child_table, child_col, parent_table, parent_col) candidates —
# the declared candidate space; the report MEASURES which hold.
# The last row is a deliberate negative control (order keys are not
# customer keys at any scale) so the report demonstrably rejects.
FK_CANDIDATES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
]

# parents whose DISTINCT key set is dimension-sized at every scale
# factor (region/nation are constant; customer grows but stays the
# smallest keyed entity) — only these get a broadcast hint.
# orders/part key sets are fact/catalog-sized: AQE decides for them.
_BROADCAST_PARENTS = {"region", "nation", "customer"}


def fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (FK candidate) profiling: for each
    declared (child.col, parent.col) candidate, the containment
    coefficient |distinct(child) ∩ distinct(parent)| /
    |distinct(child)| and a verdict at containment == 1.0 — the
    schema-discovery step run before trusting a join path on an
    undocumented feed.

    Scale shape: per candidate, both sides collapse to DISTINCT key
    sets first (map-side-combined aggregates), so the membership
    join is keys x keys, never rows x rows. Only genuinely
    dimension-sized parents (_BROADCAST_PARENTS) ride a broadcast
    hint; fact/catalog-sized parent key sets (orders, part — SF x
    1.5M keys and up) are left to AQE, which picks broadcast from
    measured size when it fits and a shuffle join when it doesn't.
    One summary row per candidate, unioned — each input table is
    scanned once per candidate column, nothing is collected
    driver-side.
    """
    results = None
    for ct, cc, pt, pc in FK_CANDIDATES:
        child = load(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = load(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        flagged = parent.withColumn("in_parent", F.lit(1))
        if pt in _BROADCAST_PARENTS:
            flagged = F.broadcast(flagged)
        joined = child.join(flagged, "k", "left")
        row = joined.agg(
            F.lit(f"{ct}.{cc}").alias("child"),
            F.lit(f"{pt}.{pc}").alias("parent"),
            F.count(F.lit(1)).alias("n_child_keys"),
            F.sum(F.coalesce("in_parent", F.lit(0))).alias("n_contained"),
            F.round(
                F.sum(F.coalesce("in_parent", F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("containment"),
            (
                F.sum(F.coalesce("in_parent", F.lit(0))) == F.count(F.lit(1))
            ).cast("int").alias("is_fk"),
        )
        results = row if results is None else results.unionAll(row)
    return results


def _fk_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in FK_CANDIDATES:
        parts.append(
            f"""SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
       CAST(COUNT(*) AS BIGINT) AS n_child_keys,
       CAST(SUM(CASE WHEN p.k IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_contained,
       ROUND(SUM(CASE WHEN p.k IS NULL THEN 0 ELSE 1 END) * 1.0
             / COUNT(*), 6) AS containment,
       CAST(CASE WHEN SUM(CASE WHEN p.k IS NULL THEN 0 ELSE 1 END)
                  = COUNT(*) THEN 1 ELSE 0 END AS INTEGER) AS is_fk
FROM (SELECT DISTINCT {cc} AS k FROM {ct}) c
LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p ON c.k = p.k"""
        )
    return "\nUNION ALL\n".join(parts)


FK_DISCOVERY_ORACLE = _fk_oracle()


# --- robust (MAD) anomaly scan ----------------------------------------

MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma
MAD_Z = 3.0


def daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose total order revenue is a ROBUST outlier: flag when
    |x - median| > 3 * 1.4826 * MAD (median absolute deviation).
    Unlike the mean/stddev z-score (events_value_outliers' shape),
    the median/MAD pair doesn't let the outliers inflate their own
    threshold — the standard monitor for spiky business metrics.

    Scale shape: the series first collapses to one row per DAY
    (map-side-combined), so both exact-percentile passes (median of
    x, then median of |x - median|) and the final flagging run over
    a days-sized frame; the two medians ride 1-row broadcasts. At
    extreme series lengths swap ``percentile`` for
    ``percentile_approx``.
    """
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    med = daily.agg(F.expr("percentile(revenue, 0.5)").alias("med"))
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr("percentile(abs(revenue - med), 0.5)").alias("mad")
    )
    flagged = with_med.crossJoin(F.broadcast(mad)).withColumn(
        "robust_z",
        F.round(
            (F.col("revenue") - F.col("med")) / (F.lit(MAD_K) * F.col("mad")), 6
        ),
    )
    return (
        flagged.filter(F.abs(F.col("robust_z")) > MAD_Z)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "revenue",
            F.round("med", 6).alias("median_revenue"),
            "robust_z",
        )
    )


DAILY_REVENUE_ANOMALIES_ORACLE = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    ), med AS (
        SELECT quantile_cont(revenue, 0.5) AS med FROM daily
    ), mad AS (
        SELECT quantile_cont(ABS(d.revenue - m.med), 0.5) AS mad
        FROM daily d CROSS JOIN med m
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           d.revenue,
           ROUND(m.med, 6) AS median_revenue,
           ROUND((d.revenue - m.med) / ({MAD_K} * x.mad), 6) AS robust_z
    FROM daily d CROSS JOIN med m CROSS JOIN mad x
    -- filter on the ROUNDED z, exactly like the Spark plan: both
    -- engines must sit on the same side of the |z| = 3 boundary
    WHERE ABS(ROUND((d.revenue - m.med) / ({MAD_K} * x.mad), 6)) > {MAD_Z}
"""


# --- partition-column advisor -----------------------------------------

# candidate layout columns for the orders table: (expression name,
# spark expr is built in-code, sql expr inline). Cardinality sweet
# spot for a partition column: enough values to prune, few enough
# that files stay large.
ADVISOR_MIN_VALUES = 4
ADVISOR_MAX_VALUES = 10_000
ADVISOR_MAX_TOP_SHARE = 0.5


def partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which column should partition the ``orders`` table on disk?
    For each candidate (status, priority, order year, order month,
    custkey), report distinct-value count, mean/max rows per value,
    the heaviest value's share, and a verdict: partitionable when the
    cardinality sits in [{ADVISOR_MIN_VALUES}, {ADVISOR_MAX_VALUES}]
    and no single value holds more than half the rows (files stay
    prunable AND balanced). The measured version of the layout
    module's guidance (sources/layout.py chooses; this justifies).

    Scale shape: one groupBy per candidate (all map-side-combined,
    value-cardinality-sized outputs), unioned summary rows.
    """
    orders = load(spark, sf_dir, "orders")
    candidates = [
        ("o_orderstatus", F.col("o_orderstatus").cast("string")),
        ("o_orderpriority", F.col("o_orderpriority").cast("string")),
        ("order_year", F.year("o_orderdate").cast("string")),
        ("order_month", F.date_format("o_orderdate", "yyyy-MM")),
        ("o_custkey", F.col("o_custkey").cast("string")),
    ]
    out = None
    for name, expr in candidates:
        per_val = orders.groupBy(expr.alias("v")).agg(
            F.count(F.lit(1)).alias("rows_per_value")
        )
        row = per_val.agg(
            F.lit(name).alias("candidate"),
            F.count(F.lit(1)).alias("n_values"),
            F.sum("rows_per_value").alias("total_rows"),
            F.round(F.avg("rows_per_value"), 6).alias("mean_rows"),
            F.max("rows_per_value").alias("max_rows"),
            F.round(F.max("rows_per_value") / F.sum("rows_per_value"), 6).alias(
                "top_value_share"
            ),
            (
                (F.count(F.lit(1)) >= ADVISOR_MIN_VALUES)
                & (F.count(F.lit(1)) <= ADVISOR_MAX_VALUES)
                & (
                    F.max("rows_per_value") / F.sum("rows_per_value")
                    <= ADVISOR_MAX_TOP_SHARE
                )
            ).cast("int").alias("partitionable"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _advisor_oracle() -> str:
    sql_exprs = [
        ("o_orderstatus", "CAST(o_orderstatus AS VARCHAR)"),
        ("o_orderpriority", "CAST(o_orderpriority AS VARCHAR)"),
        ("order_year", "CAST(year(o_orderdate) AS VARCHAR)"),
        ("order_month", "strftime(o_orderdate, '%Y-%m')"),
        ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ]
    parts = []
    for name, expr in sql_exprs:
        parts.append(
            f"""SELECT '{name}' AS candidate,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(rows_per_value) AS BIGINT) AS total_rows,
       ROUND(AVG(rows_per_value), 6) AS mean_rows,
       CAST(MAX(rows_per_value) AS BIGINT) AS max_rows,
       ROUND(CAST(MAX(rows_per_value) AS DOUBLE) / SUM(rows_per_value), 6)
           AS top_value_share,
       CAST(CASE WHEN COUNT(*) BETWEEN {ADVISOR_MIN_VALUES}
                      AND {ADVISOR_MAX_VALUES}
                  AND CAST(MAX(rows_per_value) AS DOUBLE) / SUM(rows_per_value)
                      <= {ADVISOR_MAX_TOP_SHARE}
                 THEN 1 ELSE 0 END AS INTEGER) AS partitionable
FROM (SELECT {expr} AS v, COUNT(*) AS rows_per_value FROM orders GROUP BY 1)"""
        )
    return "\nUNION ALL\n".join(parts)


PARTITION_ADVISOR_ORACLE = _advisor_oracle()


# --- EWMA smoothing ---------------------------------------------------

EWMA_ALPHA = 0.3


def daily_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily revenue
    series (alpha = 0.3, seeded at the first observation) — the
    smoothing companion to the MAD anomaly scan: EWMA_t =
    0.3·x_t + 0.7·EWMA_{t-1}, an inherently ORDER-RECURSIVE quantity
    no window frame expresses directly.

    Spark formulation: the series collapses to ONE ordered array per
    series key (days-sized — bounded by calendar length, the same
    per-key-state constraint as sessionization), and a single
    ``F.aggregate`` fold builds the whole EWMA sequence in one pass
    (the accumulator is the growing result array; each step reads
    its predecessor with element_at(-1)). posexplode restores one
    row per day. With millions of independent series the identical
    plan partitions by the series key — per-series state stays
    bounded, the fold is JVM codegen, and nothing is quadratic. The
    oracle is a days-sized recursive CTE applying the identical
    float expression in the identical order.
    """
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    series = daily.groupBy(F.lit(1).alias("series")).agg(
        F.array_sort(F.collect_list(F.struct("day", "revenue"))).alias("pts")
    )
    xs = F.transform("pts", lambda p: p["revenue"])
    folded = series.select(
        "pts",
        F.aggregate(
            F.slice(xs, 2, F.size(xs) - 1),
            F.slice(xs, 1, 1),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.lit(0.3) * x + F.lit(0.7) * F.element_at(acc, -1)
                ),
            ),
        ).alias("ewma"),
    )
    return (
        folded.select(F.posexplode("pts").alias("i", "p"), "ewma")
        .select(
            F.date_format(F.col("p.day"), "yyyy-MM-dd").alias("day"),
            F.col("p.revenue").alias("revenue"),
            F.round(F.element_at("ewma", F.col("i") + 1), 6).alias("ewma"),
        )
    )


DAILY_REVENUE_EWMA_ORACLE = """
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    ), numbered AS (
        SELECT day, revenue,
               ROW_NUMBER() OVER (ORDER BY day) AS t
        FROM daily
    ), ew(t, day, revenue, ewma) AS (
        SELECT t, day, revenue, revenue FROM numbered WHERE t = 1
        UNION ALL
        SELECT n.t, n.day, n.revenue, 0.3 * n.revenue + 0.7 * e.ewma
        FROM numbered n JOIN ew e ON n.t = e.t + 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
           ROUND(ewma, 6) AS ewma
    FROM ew
"""


# --- Benford first-digit screen ---------------------------------------


def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals against
    Benford's law — the classic anomaly/fraud screen for
    organically-generated monetary data (fabricated or clamped
    feeds drift from log10(1 + 1/d)). One row per digit 1-9 with
    observed share, expected share, and the chi-square contribution;
    Σ chi2_term against the chi-square(8) critical value is the
    alarm.

    Plan: first digit is a pure string expression over the scanned
    column (no UDF), one 9-group partial aggregate, shares against a
    1-row broadcast total — one scan, group-sized everything after.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(
            F.format_number(F.abs(F.col("o_totalprice")), 6), r"[0.,]", ""
        ),
        1,
        1,
    ).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") != 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("observed_share"),
            F.round(expected, 6).alias("benford_share"),
            F.round(
                (obs - expected) * (obs - expected) / expected * F.col("total"), 6
            ).alias("chi2_term"),
        )
    )


BENFORD_ORDER_TOTALS_ORACLE = """
    WITH counts AS (
        SELECT CAST(substr(regexp_replace(
                   format('{:.6f}', ABS(o_totalprice)), '[0.,]', '', 'g'),
                   1, 1) AS INTEGER) AS digit,
               COUNT(*) AS n
        FROM orders WHERE o_totalprice <> 0
        GROUP BY 1
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_share,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_share,
           ROUND((CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit))
                 * (CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit))
                 / log10(1.0 + 1.0 / digit) * total, 6) AS chi2_term
    FROM counts, tot
"""


# --- per-segment revenue trend (grouped least-squares) ---------------


def segment_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment linear revenue trend: daily revenue cells per
    market segment, then the built-in least-squares aggregates
    (regr_slope/intercept/r2) over (day-index, revenue) — the
    is-this-segment-growing panel every ops review reads.

    Scale shape: orders x customer rides a broadcast of the customer
    projection; the daily cells aggregate map-side BEFORE the
    regression (the regr_* aggregates then see |segments| x |days|
    rows); regressions are one partial-aggregable pass — Spark's
    regr_* are algebraic (sum/sumsq/cross-sum composition), so no
    second scan and no window. Day index is days-since-corpus-min so
    both engines regress on identical small integers (epoch-day
    magnitudes would put the intercept at year-scale extrapolation
    and amplify float noise past the rounding guard)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    lo = orders.agg(F.min(F.to_date("o_orderdate")).alias("lo"))
    daily = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .crossJoin(F.broadcast(lo))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(F.to_date("o_orderdate"), "lo").alias("day_idx"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return daily.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.regr_slope("revenue", "day_idx"), 4).alias("slope"),
        F.round(F.regr_intercept("revenue", "day_idx"), 2).alias("intercept"),
        F.round(F.regr_r2("revenue", "day_idx"), 6).alias("r2"),
    )


SEGMENT_REVENUE_TREND_ORACLE = """
    WITH lo AS (SELECT MIN(o_orderdate) AS lo FROM orders),
    daily AS (
        SELECT c.c_mktsegment AS segment,
               date_diff('day', lo.lo, o.o_orderdate) AS day_idx,
               ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        CROSS JOIN lo
        GROUP BY 1, 2
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(regr_slope(revenue, day_idx), 4) AS slope,
           ROUND(regr_intercept(revenue, day_idx), 2) AS intercept,
           ROUND(regr_r2(revenue, day_idx), 6) AS r2
    FROM daily GROUP BY segment
"""


# --- mergeable binned-quantile sketch rollup -------------------------

QSKETCH_BIN = 10000  # histogram bin width in price units


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable PERCENTILE state — the companion to the HLL
    distinct-count rollup: per-day fixed-bin histograms of order
    totals are the persisted sketch; any coarser rollup (weeks here,
    months/all-time identically) merges sketches by bin-sum and reads
    p50/p90/p99 off the merged cumulative histogram — no second scan
    of the fact table, ever. Unlike t-digest/HLL the binned sketch is
    fully DETERMINISTIC, so the oracle recomputes the same binned
    quantile definition directly from raw rows and hash-equality
    proves merge(day sketches) == direct computation — the
    mergeability invariant itself.

    Quantile definition (exact, engine-neutral): rank r = ceil(q*n);
    the estimate is the UPPER EDGE of the first bin whose cumulative
    count reaches r — error bounded by one bin width by construction.
    Plan: one scan -> (day, bin) partial-agg'd counts (the sketch
    table, |days| x |bins| rows), bin-sum merge to weeks, one tiny
    window over the merged cells."""
    orders = load(spark, sf_dir, "orders")
    day_sketch = (
        orders.groupBy(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") / QSKETCH_BIN).cast("int").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )  # <- the persisted per-day state
    weekly = (
        day_sketch.groupBy(
            F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias("week"),
            "bin",
        )
        .agg(F.sum("c").alias("c"))  # <- sketch MERGE: bin-sum only
    )
    from pyspark.sql import Window

    w_tot = Window.partitionBy("week")
    w_cum = (
        Window.partitionBy("week")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = weekly.withColumn("n", F.sum("c").over(w_tot)).withColumn(
        "cum", F.sum("c").over(w_cum)
    )

    def p(q: float, name: str):
        rank = F.ceil(F.lit(q) * F.col("n"))
        return F.min(
            F.when(F.col("cum") >= rank, (F.col("bin") + 1) * QSKETCH_BIN)
        ).cast("long").alias(name)

    return t.groupBy("week", F.col("n").alias("n_orders")).agg(
        p(0.50, "p50_upper"), p(0.90, "p90_upper"), p(0.99, "p99_upper")
    )


QUANTILE_SKETCH_ROLLUP_ORACLE = f"""
    WITH g AS (
        SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
               CAST(floor(o_totalprice / {QSKETCH_BIN}) AS INTEGER) AS bin,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), t AS (
        SELECT week, bin, c,
               SUM(c) OVER (PARTITION BY week) AS n,
               SUM(c) OVER (PARTITION BY week ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM g
    )
    SELECT week,
           CAST(n AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN cum >= ceil(0.50 * n)
                    THEN (bin + 1) * {QSKETCH_BIN} END) AS BIGINT) AS p50_upper,
           CAST(MIN(CASE WHEN cum >= ceil(0.90 * n)
                    THEN (bin + 1) * {QSKETCH_BIN} END) AS BIGINT) AS p90_upper,
           CAST(MIN(CASE WHEN cum >= ceil(0.99 * n)
                    THEN (bin + 1) * {QSKETCH_BIN} END) AS BIGINT) AS p99_upper
    FROM t GROUP BY week, n
"""


# --- declarative data-quality expectations (Deequ-style) --------------

PRIORITY_DOMAIN = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)
ORDERDATE_LO, ORDERDATE_HI = "1995-01-01", "2002-01-01"  # [lo, hi)


def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality EXPECTATIONS over the orders feed —
    the contract gate a production pipeline runs before publishing a
    load: uniqueness, non-negativity, date-range, domain membership,
    completeness, referential integrity, and a grain expectation
    (one order per customer-day, which this feed genuinely violates —
    the report must be able to say FAIL, not just echo green). One
    row per expectation: (expectation, n_violations, passed).

    Scale shape (the Deequ insight): ALL row-local checks compute in
    ONE map-side-combined pass over the fact — conditional sums and
    count-distincts in a single agg, no per-check scans; the only
    additional work is the referential check, a key-only left-anti
    join (column-pruned to the two key columns; broadcast or shuffle
    by dim size). The per-check unpivot happens on the one-row
    result, not on data. Adding a 20th expectation costs one more
    expression in the same scan, not another pass over 100 TB."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    day = F.to_date("o_orderdate")
    agg = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "duplicate_orderkey"
        ),
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).alias("nonpositive_totalprice"),
        F.sum(
            F.when(
                day.isNull()
                | (day < F.lit(ORDERDATE_LO).cast("date"))
                | (day >= F.lit(ORDERDATE_HI).cast("date")),
                1,
            ).otherwise(0)
        ).alias("orderdate_out_of_range"),
        F.sum(
            F.when(~F.col("o_orderpriority").isin(*PRIORITY_DOMAIN), 1).otherwise(0)
        ).alias("priority_out_of_domain"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey"
        ),
        (
            F.count(F.lit(1)) - F.count_distinct(F.col("o_custkey"), day)
        ).alias("repeat_customer_day"),
    )
    fk = (
        orders.select("o_custkey")
        .join(
            cust.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("unresolved_custkey_fk"))
    )
    checks = [
        "duplicate_orderkey",
        "nonpositive_totalprice",
        "orderdate_out_of_range",
        "priority_out_of_domain",
        "null_custkey",
        "repeat_customer_day",
        "unresolved_custkey_fk",
    ]
    one_row = agg.crossJoin(fk)
    exploded = one_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("expectation"),
                        F.col(c).cast("long").alias("n_violations"),
                    )
                    for c in checks
                ]
            )
        ).alias("e")
    )
    return exploded.select(
        F.col("e.expectation").alias("expectation"),
        F.col("e.n_violations").alias("n_violations"),
        (F.col("e.n_violations") == 0).alias("passed"),
    )


_PRIO_IN = ", ".join(f"'{p}'" for p in PRIORITY_DOMAIN)

EXPECTATIONS_REPORT_ORACLE = f"""
    WITH a AS (
        SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS duplicate_orderkey,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                   AS nonpositive_totalprice,
               SUM(CASE WHEN CAST(o_orderdate AS DATE) IS NULL
                        OR CAST(o_orderdate AS DATE) < DATE '{ORDERDATE_LO}'
                        OR CAST(o_orderdate AS DATE) >= DATE '{ORDERDATE_HI}'
                        THEN 1 ELSE 0 END) AS orderdate_out_of_range,
               SUM(CASE WHEN o_orderpriority NOT IN ({_PRIO_IN})
                        THEN 1 ELSE 0 END) AS priority_out_of_domain,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS null_custkey,
               -- Spark's multi-column count_distinct EXCLUDES tuples
               -- with any NULL; mirror that here so the check keeps
               -- matching on a feed where the grain keys go null
               -- (null-keyed rows then count as grain violations,
               -- which is the intended strictness)
               COUNT(*) - (SELECT COUNT(*) FROM (
                   SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE)
                   FROM orders
                   WHERE o_custkey IS NOT NULL
                     AND o_orderdate IS NOT NULL)) AS repeat_customer_day
        FROM orders
    ), f AS (
        SELECT COUNT(*) AS unresolved_custkey_fk
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
    ), u AS (
        SELECT 'duplicate_orderkey' AS expectation,
               CAST(duplicate_orderkey AS BIGINT) AS n_violations FROM a
        UNION ALL SELECT 'nonpositive_totalprice',
               CAST(nonpositive_totalprice AS BIGINT) FROM a
        UNION ALL SELECT 'orderdate_out_of_range',
               CAST(orderdate_out_of_range AS BIGINT) FROM a
        UNION ALL SELECT 'priority_out_of_domain',
               CAST(priority_out_of_domain AS BIGINT) FROM a
        UNION ALL SELECT 'null_custkey', CAST(null_custkey AS BIGINT) FROM a
        UNION ALL SELECT 'repeat_customer_day',
               CAST(repeat_customer_day AS BIGINT) FROM a
        UNION ALL SELECT 'unresolved_custkey_fk',
               CAST(unresolved_custkey_fk AS BIGINT) FROM f
    )
    SELECT expectation, n_violations, n_violations = 0 AS passed FROM u
"""


# --- sketch-based join-size estimation (CMS inner product) ------------

JS_DEPTH = 4
JS_WIDTH = 65536  # wider than the frequency CMS: the inner-product
#                   estimate's additive error is ~|A||B|/width per row


def _js_cell(i: int, key):
    """Row-``i`` cell for the join-size grids — same md5 primitive as
    ``plans/events._cms_cell`` but over the wider JS_WIDTH domain."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"js{i}|"), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % JS_WIDTH
    )


def _js_grid(df: DataFrame, key: str) -> DataFrame:
    return (
        df.select(
            F.posexplode(
                F.array(*[_js_cell(i, F.col(key)) for i in range(JS_DEPTH)])
            ).alias("i", "cell")
        )
        .groupBy("i", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based equi-join CARDINALITY estimation (the classic
    AMS/count-min inner-product estimator a cost-based planner uses
    before committing to a join strategy): |A ⋈ B| on a key is
    estimated as min over hash rows of dot(grid_A[i], grid_B[i]) —
    each row's inner product is Σ_cell cnt_A·cnt_B ≥ Σ_key cnt_A·cnt_B
    (collisions only ADD cross terms), so the estimate NEVER
    undershoots; expected additive error per row is |A||B|/width.
    Demonstrated on orders ⋈ lineitem over orderkey, with the exact
    join size computed alongside so the report carries its own
    accuracy audit (and the oracle hash-checks both).

    Scale shape: each side is one scan → depth x width grid (map-side
    combined, fixed size regardless of |table|); the dot is a join of
    two tiny grids; the exact size is computed from per-key counts
    (never materializing the join). At 100 TB you persist the grids
    per table/column once and estimate ANY pairwise join in O(grid) —
    this is exactly what the sketch buys that sampling does not."""
    # spread both sketch scans: the depth-x md5 explode feeding each
    # grid's map-side combine otherwise runs in the table's single
    # scan split (measured 4.5 s single-task for lineitem at sf0.1;
    # guide §2.5 — no-op once the tables split on their own)
    orders = spread_scan(
        load(spark, sf_dir, "orders"), sf_dir, "orders", by="o_orderkey"
    )
    li = spread_scan(
        load(spark, sf_dir, "lineitem"), sf_dir, "lineitem", by="l_orderkey"
    )
    ga = _js_grid(orders, "o_orderkey")
    gb = _js_grid(li, "l_orderkey")
    est = (
        ga.join(gb.withColumnRenamed("c", "cb"), ["i", "cell"])
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").alias("est_joinsize"))
    )
    ka = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    kb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    true = ka.join(kb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("true_joinsize")
    )
    return est.crossJoin(true).select(
        "est_joinsize",
        "true_joinsize",
        F.round(
            (F.col("est_joinsize") - F.col("true_joinsize"))
            / F.col("true_joinsize"),
            6,
        ).alias("rel_overestimate"),
    )


JOIN_SIZE_ESTIMATE_ORACLE = f"""
    WITH ga AS (
        SELECT t.i AS i,
               ('0x' || substr(md5('js' || t.i || '|' || o_orderkey), 1, 15))::BIGINT
                   % {JS_WIDTH} AS cell,
               COUNT(*) AS c
        FROM orders, range({JS_DEPTH}) t(i) GROUP BY 1, 2
    ), gb AS (
        SELECT t.i AS i,
               ('0x' || substr(md5('js' || t.i || '|' || l_orderkey), 1, 15))::BIGINT
                   % {JS_WIDTH} AS cell,
               COUNT(*) AS c
        FROM lineitem, range({JS_DEPTH}) t(i) GROUP BY 1, 2
    ), dots AS (
        SELECT ga.i, SUM(ga.c * gb.c) AS dot
        FROM ga JOIN gb USING (i, cell) GROUP BY ga.i
    ), est AS (
        SELECT MIN(dot) AS est_joinsize FROM dots
    ), ka AS (
        SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1
    ), kb AS (
        SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1
    ), tru AS (
        SELECT SUM(ca * cb) AS true_joinsize FROM ka JOIN kb USING (k)
    )
    SELECT CAST(est_joinsize AS BIGINT) AS est_joinsize,
           CAST(true_joinsize AS BIGINT) AS true_joinsize,
           ROUND((est_joinsize - true_joinsize) * 1.0 / true_joinsize, 6)
               AS rel_overestimate
    FROM est, tru
"""


# --- storage-layout skipping evaluation (the 100 TB scan question) ---

LAYOUT_ZONE_ROWS = 512  # rows per simulated zone (a parquet row group)
LAYOUT_DATE_LO, LAYOUT_DATE_HI = "1995-03-01", "1995-03-31"
LAYOUT_CUST_BAND_DIV = 50  # custkey predicate spans 1/50th of the key range

# 8-bit-per-dimension Morton interleave, pure integer bit arithmetic
# (the same curve sources/layout.morton_key writes; inlined here so
# both engines evaluate the identical expression)
_Z16_EXPR = " + ".join(
    f"(((dx >> {i}) & 1) << {2 * i + 1}) + (((cx >> {i}) & 1) << {2 * i})"
    for i in range(8)
)


def layout_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the ``orders`` table would a zone-mapped reader
    SKIP under each candidate storage layout? Simulates the lakehouse
    data-skipping stack end-to-end: rows are laid out per year
    partition in one of three orders — ``shuffled`` (md5 of the key:
    the no-clustering baseline, where only year-partition pruning
    helps), ``date_sorted`` (range-sorted on o_orderdate), and
    ``zorder_date_cust`` (8-bit Morton interleave of date x custkey,
    the two-dimensional clustering trade) — cut into
    {LAYOUT_ZONE_ROWS}-row zones (parquet row groups), and each
    zone's min/max is tested against two predicates: a one-month
    date range and a 2% custkey band. Reported per (layout,
    predicate): zone counts, the fraction skipped, rows skipped, and
    ``matched_in_skipped`` — matching rows inside skipped zones,
    which MUST be 0 (min/max pruning is lossless); the report audits
    its own correctness the way join_size_estimate does.

    This is the measured justification for ``sources/layout.py``'s
    writers: write_range_sorted wins its own dimension outright,
    write_zordered buys skipping on BOTH dimensions at once, and the
    shuffled baseline shows what partition pruning alone leaves on
    the table.

    Scale shape: one bounds aggregate broadcast back (1 row), then
    per layout a YEAR-PARTITIONED window sort (zones never cross the
    partition boundary — exactly how files nest inside partition
    dirs, and why no global sort appears here), a (year, zone)-sized
    aggregate, and a 6-row summary union. Everything after the scan
    is zone-cardinality-sized.
    """
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("min_d"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("span_d"),
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
    )
    o = (
        orders.crossJoin(F.broadcast(bounds))
        .withColumn(
            "dx",
            F.expr("CAST((datediff(o_orderdate, min_d) * 255) DIV greatest(span_d, 1) AS INT)"),
        )
        .withColumn(
            "cx",
            F.expr(
                "CAST(((o_custkey - min_ck) * 255) DIV greatest(max_ck - min_ck, 1) AS INT)"
            ),
        )
        .withColumn("zkey", F.expr(_Z16_EXPR))
        .withColumn("yr", F.year("o_orderdate"))
        .withColumn(
            "m_date",
            F.col("o_orderdate")
            .between(
                F.to_date(F.lit(LAYOUT_DATE_LO)), F.to_date(F.lit(LAYOUT_DATE_HI))
            )
            .cast("long"),
        )
        .withColumn(
            "m_cust",
            F.expr(
                f"CAST(o_custkey BETWEEN min_ck AND "
                f"min_ck + (max_ck - min_ck) DIV {LAYOUT_CUST_BAND_DIV} AS LONG)"
            ),
        )
    )
    layouts = {
        "shuffled": [F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")],
        "date_sorted": [F.col("o_orderdate"), F.col("o_orderkey")],
        "zorder_date_cust": [F.col("zkey"), F.col("o_orderkey")],
    }
    out = None
    for lname, order in layouts.items():
        w = Window.partitionBy("yr").orderBy(*order)
        zoned = o.withColumn(
            "zone",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(LAYOUT_ZONE_ROWS)).cast(
                "bigint"
            ),
        )
        zs = zoned.groupBy("yr", "zone").agg(
            F.min("o_orderdate").alias("zmin_d"),
            F.max("o_orderdate").alias("zmax_d"),
            F.min("o_custkey").alias("zmin_c"),
            F.max("o_custkey").alias("zmax_c"),
            F.count(F.lit(1)).alias("zrows"),
            F.sum("m_date").alias("zm_date"),
            F.sum("m_cust").alias("zm_cust"),
            F.min("min_ck").alias("min_ck"),
            F.min("max_ck").alias("max_ck"),
        )
        skip_date = (
            F.col("zmax_d") < F.to_date(F.lit(LAYOUT_DATE_LO))
        ) | (F.col("zmin_d") > F.to_date(F.lit(LAYOUT_DATE_HI)))
        skip_cust = (F.col("zmax_c") < F.col("min_ck")) | (
            F.col("zmin_c")
            > F.col("min_ck")
            + F.expr(f"(max_ck - min_ck) DIV {LAYOUT_CUST_BAND_DIV}")
        )
        for pname, skip, zm in (
            ("march_1995", skip_date, "zm_date"),
            ("cust_band", skip_cust, "zm_cust"),
        ):
            row = zs.agg(
                F.lit(lname).alias("layout"),
                F.lit(pname).alias("predicate"),
                F.count(F.lit(1)).alias("n_zones"),
                F.sum(skip.cast("long")).alias("zones_skipped"),
                F.round(F.sum(skip.cast("long")) / F.count(F.lit(1)), 6).alias(
                    "skip_frac"
                ),
                F.sum(F.when(skip, F.col("zrows")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("rows_skipped"),
                F.sum(F.when(skip, F.col(zm)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("matched_in_skipped"),
            )
            out = row if out is None else out.unionAll(row)
    return out


_Z16_SQL = _Z16_EXPR  # identical integer expression in DuckDB syntax

LAYOUT_SKIPPING_EVAL_ORACLE = f"""
    WITH b AS (
        SELECT MIN(o_orderdate) AS min_d,
               date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS span_d,
               MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck
        FROM orders
    ), o AS (
        SELECT o_orderkey, o_orderdate, o_custkey,
               b.min_ck, b.max_ck,
               CAST((date_diff('day', b.min_d, o_orderdate) * 255)
                    // GREATEST(b.span_d, 1) AS INT) AS dx,
               CAST(((o_custkey - b.min_ck) * 255)
                    // GREATEST(b.max_ck - b.min_ck, 1) AS INT) AS cx,
               year(o_orderdate) AS yr,
               CAST(o_orderdate BETWEEN DATE '{LAYOUT_DATE_LO}'
                    AND DATE '{LAYOUT_DATE_HI}' AS BIGINT) AS m_date,
               CAST(o_custkey BETWEEN b.min_ck AND b.min_ck +
                    (b.max_ck - b.min_ck) // {LAYOUT_CUST_BAND_DIV} AS BIGINT)
                   AS m_cust
        FROM orders, b
    ), oz AS (
        SELECT *, {_Z16_SQL} AS zkey FROM o
    ), zoned AS (
        SELECT *,
               (ROW_NUMBER() OVER (PARTITION BY yr
                    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) - 1)
                   // {LAYOUT_ZONE_ROWS} AS zone_shuffled,
               (ROW_NUMBER() OVER (PARTITION BY yr
                    ORDER BY o_orderdate, o_orderkey) - 1)
                   // {LAYOUT_ZONE_ROWS} AS zone_date,
               (ROW_NUMBER() OVER (PARTITION BY yr
                    ORDER BY zkey, o_orderkey) - 1)
                   // {LAYOUT_ZONE_ROWS} AS zone_z
        FROM oz
    ), zs AS (
        SELECT layout, yr, zone,
               MIN(o_orderdate) AS zmin_d, MAX(o_orderdate) AS zmax_d,
               MIN(o_custkey) AS zmin_c, MAX(o_custkey) AS zmax_c,
               COUNT(*) AS zrows,
               SUM(m_date) AS zm_date, SUM(m_cust) AS zm_cust,
               MIN(min_ck) AS min_ck, MIN(max_ck) AS max_ck
        FROM (
            SELECT 'shuffled' AS layout, zone_shuffled AS zone, * FROM zoned
            UNION ALL
            SELECT 'date_sorted' AS layout, zone_date AS zone, * FROM zoned
            UNION ALL
            SELECT 'zorder_date_cust' AS layout, zone_z AS zone, * FROM zoned
        )
        GROUP BY layout, yr, zone
    ), flagged AS (
        SELECT *,
               CAST(zmax_d < DATE '{LAYOUT_DATE_LO}'
                    OR zmin_d > DATE '{LAYOUT_DATE_HI}' AS BIGINT) AS skip_date,
               CAST(zmax_c < min_ck OR zmin_c > min_ck +
                    (max_ck - min_ck) // {LAYOUT_CUST_BAND_DIV} AS BIGINT)
                   AS skip_cust
        FROM zs
    )
    SELECT layout, 'march_1995' AS predicate,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(skip_date) AS BIGINT) AS zones_skipped,
           ROUND(SUM(skip_date) * 1.0 / COUNT(*), 6) AS skip_frac,
           CAST(SUM(CASE WHEN skip_date = 1 THEN zrows ELSE 0 END) AS BIGINT)
               AS rows_skipped,
           CAST(SUM(CASE WHEN skip_date = 1 THEN zm_date ELSE 0 END) AS BIGINT)
               AS matched_in_skipped
    FROM flagged GROUP BY layout
    UNION ALL
    SELECT layout, 'cust_band' AS predicate,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(skip_cust) AS BIGINT) AS zones_skipped,
           ROUND(SUM(skip_cust) * 1.0 / COUNT(*), 6) AS skip_frac,
           CAST(SUM(CASE WHEN skip_cust = 1 THEN zrows ELSE 0 END) AS BIGINT)
               AS rows_skipped,
           CAST(SUM(CASE WHEN skip_cust = 1 THEN zm_cust ELSE 0 END) AS BIGINT)
               AS matched_in_skipped
    FROM flagged GROUP BY layout
"""


# --- compaction planner (OPTIMIZE bin packing) -------------------------

COMPACT_TARGET_BYTES = 1 << 20  # 1 MiB demonstration target
EST_ROW_BYTES = 128  # flat per-row estimate for the simulated inventory


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE *planner*: given a file inventory (small files
    accumulate from incremental loads — the classic small-files
    problem), assign files to compaction bins so each output file
    lands near the target size. ``sources/cowtable.py::compact`` is
    the executable rewrite; this is the decision layer a table
    service runs across thousands of partitions to pick WHAT to
    rewrite.

    Inventory here is simulated deterministically from the driver's
    static parquet (it ships one file per table): one "file" per
    (order_year, order_month) of orders with est_bytes = rows x
    {EST_ROW_BYTES}. Packing is the cumulative-sum rule real
    compactors use on sorted runs: within each year partition, files
    in month order; bin = floor(running_bytes_before / target) —
    bins never cross the partition boundary (compaction must respect
    partitioning or it breaks pruning). Output: one row per bin with
    file count, bytes, month span, and utilization vs target.

    Scale shape: the inventory is a metadata-sized frame (one row
    per file — millions of rows at 100 TB, not billions); one
    window cumsum per partition + one groupBy. All-integer until the
    final utilization ratio.
    """
    orders = load(spark, sf_dir, "orders")
    inv = (
        orders.groupBy(
            F.year("o_orderdate").alias("part_year"),
            F.month("o_orderdate").alias("file_month"),
        )
        .agg((F.count(F.lit(1)) * EST_ROW_BYTES).alias("est_bytes"))
    )
    w = (
        Window.partitionBy("part_year")
        .orderBy("file_month")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = inv.withColumn(
        "bin_id",
        (
            F.coalesce(F.sum("est_bytes").over(w), F.lit(0))
            / COMPACT_TARGET_BYTES
        ).cast("long"),
    )
    return (
        binned.groupBy("part_year", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("est_bytes").alias("bin_bytes"),
            F.min("file_month").alias("first_month"),
            F.max("file_month").alias("last_month"),
        )
        .select(
            F.col("part_year").cast("int").alias("part_year"),
            F.col("bin_id").cast("int").alias("bin_id"),
            F.col("n_files").cast("bigint").alias("n_files"),
            F.col("bin_bytes").cast("bigint").alias("bin_bytes"),
            F.col("first_month").cast("int").alias("first_month"),
            F.col("last_month").cast("int").alias("last_month"),
            F.round(
                F.col("bin_bytes") / F.lit(COMPACT_TARGET_BYTES), 6
            ).alias("utilization"),
        )
    )


COMPACTION_PLAN_ORACLE = f"""
    WITH inv AS (
        SELECT CAST(year(o_orderdate) AS INT) AS part_year,
               CAST(month(o_orderdate) AS INT) AS file_month,
               COUNT(*) * {EST_ROW_BYTES} AS est_bytes
        FROM orders GROUP BY 1, 2
    ), binned AS (
        SELECT *,
               CAST(COALESCE(SUM(est_bytes) OVER (
                   PARTITION BY part_year ORDER BY file_month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
        FROM inv
    )
    SELECT CAST(part_year AS INTEGER) AS part_year,
           CAST(bin_id AS INTEGER) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(est_bytes) AS BIGINT) AS bin_bytes,
           CAST(MIN(file_month) AS INTEGER) AS first_month,
           CAST(MAX(file_month) AS INTEGER) AS last_month,
           ROUND(CAST(SUM(est_bytes) AS DOUBLE) / {COMPACT_TARGET_BYTES}, 6)
               AS utilization
    FROM binned
    GROUP BY part_year, bin_id
"""


# --- exact two-sample Kolmogorov-Smirnov drift statistic --------------

KS_YEAR_A = 1995
KS_YEAR_B = 1996


def ks_drift_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the
    order-total distributions of two adjacent years — the
    distribution-drift test PSI can't express (PSI needs binning and
    misses within-bin shape changes; KS is binning-free: the max
    vertical gap between the two empirical CDFs). One output row:
    sample sizes, the integer numerator of the sup-gap, and the
    statistic.

    Integer-exactness: at every distinct observed value v the gap is
    |c1/n1 - c2/n2|; cross-multiplying gives |c1*n2 - c2*n1| over the
    CONSTANT denominator n1*n2, so the running maximum is computed
    entirely in BIGINT — the one division happens once on the final
    row, then ROUND 6. (Magnitudes: c <= n ~ 1e7 even at sf 100, so
    the products sit far under 2^63.)

    Plan shape: one groupBy(value) pre-aggregation (distinct values
    carry (n_a, n_b) counts), one cumulative-sum window over value
    order, one max. The running sum is a GLOBAL window — fine to the
    distinct-value cardinality of a measure column; at true 100 TB
    the same two-pass range-partition + per-partition-offset trick as
    ``operators/keys.py::surrogate_keys_distributed`` replaces it
    shape-for-shape (partition by value range, cumulate within,
    offset by the per-partition totals' prefix sum).
    """
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"), F.col("o_totalprice").alias("v")
    )
    flagged = o.filter(F.col("y").isin(KS_YEAR_A, KS_YEAR_B)).select(
        "v",
        (F.col("y") == KS_YEAR_A).cast("long").alias("in_a"),
        (F.col("y") == KS_YEAR_B).cast("long").alias("in_b"),
    )
    per_v = flagged.groupBy("v").agg(
        F.sum("in_a").alias("na"), F.sum("in_b").alias("nb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("na").over(w).alias("c1"), F.sum("nb").over(w).alias("c2")
    )
    totals = flagged.agg(
        F.sum("in_a").alias("n1"), F.sum("in_b").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
            ).alias("gap_num"),
            "n1",
            "n2",
        )
        .groupBy("n1", "n2")
        .agg(F.max("gap_num").alias("d_num"))
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("d_num").cast("bigint").alias("d_num"),
            F.round(
                F.col("d_num") / (F.col("n1") * F.col("n2")).cast("double"), 6
            ).alias("ks_stat"),
        )
    )


KS_DRIFT_STATISTIC_ORACLE = f"""
    WITH flagged AS (
        SELECT o_totalprice AS v,
               CASE WHEN EXTRACT(year FROM o_orderdate) = {KS_YEAR_A}
                    THEN 1 ELSE 0 END AS in_a,
               CASE WHEN EXTRACT(year FROM o_orderdate) = {KS_YEAR_B}
                    THEN 1 ELSE 0 END AS in_b
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN ({KS_YEAR_A}, {KS_YEAR_B})
    ), per_v AS (
        SELECT v, SUM(in_a) AS na, SUM(in_b) AS nb
        FROM flagged GROUP BY v
    ), cum AS (
        SELECT SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
               SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
        FROM per_v
    ), totals AS (
        SELECT SUM(in_a) AS n1, SUM(in_b) AS n2 FROM flagged
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(MAX(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS d_num,
           ROUND(MAX(ABS(c.c1 * t.n2 - c.c2 * t.n1))
                 / CAST(t.n1 * t.n2 AS DOUBLE), 6) AS ks_stat
    FROM cum c CROSS JOIN totals t
    GROUP BY t.n1, t.n2
"""


# --- exact chi-squared categorical drift + Cramér's V ------------------


def chisq_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT chi-squared independence test between two adjacent
    years' order-PRIORITY distributions — the categorical twin of
    ``ks_drift_statistic`` (KS needs an ordered measure; priorities
    are nominal). One output row: per-year sample sizes, cell count,
    the chi-squared statistic in exact integer micro-units, the
    rounded statistic, and Cramér's V (the [0,1]-normalized effect
    size a drift monitor actually thresholds on — chi² itself grows
    with N, so at 100 TB every innocuous wobble is "significant").

    Integer-exactness: with expected count e = r*c/N the cell term is
    (o - e)²/e = (o*N - r*c)² / (N*r*c) — an integer numerator over
    an integer denominator. Each term is floored to 1e-6 micro-units
    via the (x - x%d)/d idiom (identical truncation semantics in
    Spark DECIMAL(38) and DuckDB HUGEINT; CAST-to-int ROUNDS in
    DuckDB but TRUNCATES in Spark, so never cast the quotient), and
    the micro-terms SUM as exact integers — no float summation-order
    drift. Magnitudes: (o*N)² ≤ N⁴ ≈ 8e21 at sf0.1, ×1e6 ≈ 8e27,
    far inside DECIMAL(38)/HUGEINT. The two final roundings (χ² and
    V = sqrt(χ²/N), both ROUND 6) are single operations on one row.

    Plan shape: one groupBy(priority) pre-aggregation over the
    two-year slice (map-side combined to ~5 rows), broadcast totals,
    one global sum. One corpus scan, key-cardinality shuffle only.
    """
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.col("o_orderpriority").alias("prio"),
    )
    flagged = o.filter(F.col("y").isin(KS_YEAR_A, KS_YEAR_B)).select(
        "prio",
        (F.col("y") == KS_YEAR_A).cast("long").alias("in_a"),
        (F.col("y") == KS_YEAR_B).cast("long").alias("in_b"),
    )
    dec = "decimal(38,0)"
    cells = flagged.groupBy("prio").agg(
        F.sum("in_a").cast(dec).alias("na"),
        F.sum("in_b").cast(dec).alias("nb"),
    )
    totals = flagged.agg(
        F.sum("in_a").cast(dec).alias("n1"),
        F.sum("in_b").cast(dec).alias("n2"),
    )
    with_tot = cells.crossJoin(F.broadcast(totals)).select(
        "prio",
        "na",
        "nb",
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("n"),
        (F.col("na") + F.col("nb")).alias("r"),
    )

    def term_micro(obs, col_total):
        num = (F.col(obs) * F.col("n") - F.col("r") * F.col(col_total))
        t = (num * num * F.lit(1000000).cast(dec)).cast(dec)
        d = (F.col("n") * F.col("r") * F.col(col_total)).cast(dec)
        return ((t - t % d) / d).cast(dec)

    per_cell = with_tot.select(
        "n1",
        "n2",
        (term_micro("na", "n1") + term_micro("nb", "n2")).alias("cell_micro"),
    )
    return (
        per_cell.groupBy("n1", "n2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("cell_micro").alias("chi2_micro_d"),
        )
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "n_cells",
            F.col("chi2_micro_d").cast("bigint").alias("chi2_micro"),
            F.round(F.col("chi2_micro_d").cast("double") / 1e6, 6).alias(
                "chi2"
            ),
            F.round(
                F.sqrt(
                    F.col("chi2_micro_d").cast("double")
                    / 1e6
                    / (F.col("n1") + F.col("n2")).cast("double")
                ),
                6,
            ).alias("cramers_v"),
        )
    )


CHISQ_CATEGORY_DRIFT_ORACLE = f"""
    WITH flagged AS (
        SELECT o_orderpriority AS prio,
               CASE WHEN EXTRACT(year FROM o_orderdate) = {KS_YEAR_A}
                    THEN 1 ELSE 0 END AS in_a,
               CASE WHEN EXTRACT(year FROM o_orderdate) = {KS_YEAR_B}
                    THEN 1 ELSE 0 END AS in_b
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN ({KS_YEAR_A}, {KS_YEAR_B})
    ), cells AS (
        SELECT prio,
               CAST(SUM(in_a) AS HUGEINT) AS na,
               CAST(SUM(in_b) AS HUGEINT) AS nb
        FROM flagged GROUP BY prio
    ), totals AS (
        SELECT CAST(SUM(in_a) AS HUGEINT) AS n1,
               CAST(SUM(in_b) AS HUGEINT) AS n2
        FROM flagged
    ), with_tot AS (
        SELECT c.*, t.n1, t.n2, t.n1 + t.n2 AS n, c.na + c.nb AS r
        FROM cells c CROSS JOIN totals t
    ), per_cell AS (
        SELECT n1, n2,
               (((na * n - r * n1) * (na * n - r * n1) * 1000000)
                - ((na * n - r * n1) * (na * n - r * n1) * 1000000)
                  % (n * r * n1)) / (n * r * n1)
             + (((nb * n - r * n2) * (nb * n - r * n2) * 1000000)
                - ((nb * n - r * n2) * (nb * n - r * n2) * 1000000)
                  % (n * r * n2)) / (n * r * n2) AS cell_micro
        FROM with_tot
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(cell_micro) AS BIGINT) AS chi2_micro,
           ROUND(CAST(SUM(cell_micro) AS DOUBLE) / 1e6, 6) AS chi2,
           ROUND(SQRT(CAST(SUM(cell_micro) AS DOUBLE) / 1e6
                      / CAST(n1 + n2 AS DOUBLE)), 6) AS cramers_v
    FROM per_cell
    GROUP BY n1, n2
"""


# --- CUSUM changepoint over daily revenue -------------------------------


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection over the daily order-revenue
    series — the "when did the level shift" diagnostic that
    complements the KS/chi²/PSI family's "did the distribution
    move": the cumulative sum of deviations from the global mean
    peaks (in absolute value) AT the changepoint (Page 1954; the
    max-|CUSUM| estimator). One row: series length, total revenue,
    the argmax day, the peak CUSUM value, and its share of the
    total.

    Integer-exactness: the mean is never formed — deviations are
    cross-multiplied as n*x_t - T (all BIGINT; ~1e15 peak at
    sf0.1), the running sum stays integer, and the argmax breaks
    ties on the earlier day. The one division (share) happens on
    the final row.

    Plan shape: one corpus groupBy(day) pre-aggregation, a 1-row
    broadcast total, one cumulative window over the DAY-COUNT-sized
    series (thousands of rows — the same bounded-global-window
    class as ks_drift_statistic, with the identical range-partition
    swap-in documented there), one top-1.
    """
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    tot = daily.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.crossJoin(F.broadcast(tot)).withColumn(
        "s", F.sum(F.col("n") * F.col("cents") - F.col("t")).over(w)
    )
    ranked = dev.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.abs("s").desc(), F.col("day"))),
    ).filter(F.col("r") == 1)
    return ranked.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("t").cast("bigint").alias("total_cents"),
        F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
        F.col("s").cast("bigint").alias("cusum_peak"),
        F.round(
            F.abs("s") / (F.col("n") * F.col("t")).cast("double"), 6
        ).alias("peak_share"),
    )


CUSUM_CHANGEPOINT_ORACLE = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ), dev AS (
        SELECT d.day, t.n, t.t,
               SUM(t.n * d.cents - t.t) OVER (
                   ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS s
        FROM daily d CROSS JOIN tot t
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(s) DESC, day ASC) AS r
        FROM dev
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(t AS BIGINT) AS total_cents,
           strftime(day, '%Y-%m-%d') AS changepoint_day,
           CAST(s AS BIGINT) AS cusum_peak,
           ROUND(ABS(s) / CAST(n * t AS DOUBLE), 6) AS peak_share
    FROM ranked WHERE r = 1
"""
