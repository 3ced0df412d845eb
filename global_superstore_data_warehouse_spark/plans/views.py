"""Analytical views — the reference's materialized views and the
business-template question set, re-expressed over the driver test
tables.

Reference queries rebuilt here (role mapping per FIXTURES.md §3 —
region ↔ market, supplier ↔ employee, part ↔ product hierarchy):

- ``yearly_sales_profit``   ← /root/reference/Database/BL_DM/bl_dm.sql:274-285
  (sum sales & profit by year × market, 7-way star join underneath)
- ``sales_employees_regions`` ← bl_dm.sql:288-300
  (sum sales by employee × region)
- the Business_Template.docx §"Benefits" question set: demand by
  category × region, segment sales, seasonality per segment,
  order-priority distribution.

All are plain DataFrame plans: broadcast-joined star lookups feeding
a partial-aggregated groupBy, so at 100 TB the only shuffle is the
final aggregation on (low-cardinality) group keys.

Money aggregates are rounded to 2 dp in BOTH the Spark plan and the
DuckDB oracle (matching the reference's ``ROUND(sum(..)::numeric,2)``,
bl_dm.sql:275) — this also absorbs float summation-order noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.operators.hints import (
    stats_gated as _stats_gated,
)

# sales / profit measure expressions, shared by every view.
# sales = extendedprice net of discount; profit additionally nets tax
# (a deterministic stand-in for the reference's Profit column).
# Column factories, not module constants: building a Column needs an
# active SparkContext, which must not be an import-time demand (the
# registry populates lazily, possibly before any session exists).
def SALES():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def PROFIT():
    return F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 - F.col("l_tax"))

SALES_SQL = "l_extendedprice * (1 - l_discount)"
PROFIT_SQL = "l_extendedprice * (1 - l_discount) * (1 - l_tax)"


def _customer_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → nation → region lookup chain (the snowflake path
    the reference flattens into Dim_Addresses→Countries→Regions).
    Both dims are tiny → broadcast, so attaching market to a fact
    scan is shuffle-free at any scale."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    customer = load(spark, sf_dir, "customer")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_mktsegment", F.col("r_name").alias("market"))
    )


def yearly_sales_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sales & profit by order-year × market (bl_dm.sql:274-285).

    Plan shape: lineitem ⋈ orders is the one real shuffle (both
    large); the market lookup is broadcast; aggregation is partial
    (map-side) then final on ~ (years × regions) groups.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year")
    )
    cust_market = _customer_market(spark, sf_dir).select("c_custkey", "market")
    orders = _stats_gated(orders, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_market), orders.o_custkey == cust_market.c_custkey)
        .groupBy("order_year", "market")
        .agg(
            F.round(F.sum(SALES()), 2).alias("total_sales"),
            F.round(F.sum(PROFIT()), 2).alias("total_profit"),
            F.sum("l_quantity").cast("long").alias("total_quantity"),
        )
        .orderBy("order_year", "market")
    )


def yearly_sales_profit_oracle() -> str:
    return f"""
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               r.r_name AS market,
               ROUND(SUM({SALES_SQL}), 2) AS total_sales,
               ROUND(SUM({PROFIT_SQL}), 2) AS total_profit,
               CAST(SUM(l_quantity) AS BIGINT) AS total_quantity
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def sales_employees_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sales by employee × region (bl_dm.sql:288-300); supplier plays
    the employee role. Supplier→nation→region chain is broadcast;
    the groupBy keys are (supplier, region) — higher cardinality
    than the yearly view but still partial-aggregated map-side."""
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    emp = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", F.col("s_name").alias("employee_name"), F.col("r_name").alias("region"))
    )
    return (
        lineitem.join(F.broadcast(emp), lineitem.l_suppkey == emp.s_suppkey)
        .groupBy("employee_name", "region")
        .agg(F.round(F.sum(SALES()), 2).alias("total_sales"))
        .orderBy("employee_name", "region")
    )


def sales_employees_regions_oracle() -> str:
    return f"""
        SELECT s.s_name AS employee_name,
               r.r_name AS region,
               ROUND(SUM({SALES_SQL}), 2) AS total_sales
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the canonical wide-agg
    stress test: single scan, no join, map-side partial agg into 6
    groups. At 100 TB this is scan-bound; everything stays in
    whole-stage codegen."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(SALES()), 2).alias("sum_disc_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def pricing_summary_oracle() -> str:
    return """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def demand_category_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand (quantity) by category × region — Business_Template
    §Benefits "product demand by category across regions"; p_brand
    plays category."""
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", F.col("p_brand").alias("category"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust_market = _customer_market(spark, sf_dir).select("c_custkey", "market")
    orders = _stats_gated(orders, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(cust_market), orders.o_custkey == cust_market.c_custkey)
        .groupBy("category", "market")
        .agg(F.sum("l_quantity").cast("long").alias("total_quantity"))
        .orderBy("category", "market")
    )


def demand_category_region_oracle() -> str:
    return """
        SELECT p.p_brand AS category,
               r.r_name AS market,
               CAST(SUM(l.l_quantity) AS BIGINT) AS total_quantity
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total sales per customer segment (Business_Template §Benefits
    "segment-level sales")."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _stats_gated(orders, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(F.sum(SALES()), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("segment")
    )


def segment_sales_oracle() -> str:
    return f"""
        SELECT c.c_mktsegment AS segment,
               ROUND(SUM({SALES_SQL}), 2) AS total_sales,
               COUNT(*) AS line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        ORDER BY 1
    """


def seasonality_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly sales per segment (Business_Template §Benefits
    "seasonality behaviour of each segment")."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _stats_gated(orders, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("order_year", "order_month", F.col("c_mktsegment").alias("segment"))
        .agg(F.round(F.sum(SALES()), 2).alias("total_sales"))
        .orderBy("order_year", "order_month", "segment")
    )


def seasonality_segment_oracle() -> str:
    return f"""
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               CAST(month(o.o_orderdate) AS INTEGER) AS order_month,
               c.c_mktsegment AS segment,
               ROUND(SUM({SALES_SQL}), 2) AS total_sales
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """


def priority_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per priority (Business_Template §Benefits
    "order priority distributions"); single-scan count agg."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .orderBy("order_priority")
    )


def priority_distribution_oracle() -> str:
    return """
        SELECT o_orderpriority AS order_priority,
               COUNT(*) AS order_count,
               ROUND(SUM(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """


# --- TPC-H decorrelation shapes (Q17 / Q13) ----------------------------

AVG_YEARLY_SIZE_CAP = 10  # part-size slice (Q17's brand+container analogue)


def tpch_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — "small-quantity-order revenue": lineitems
    whose quantity is below 20% of the PER-PART average, summed per
    brand and divided by 7 (the "average yearly" convention). The
    interesting part is the DECORRELATION: the textbook form is a
    correlated scalar subquery per lineitem (the oracle keeps that
    form verbatim); the Spark plan rewrites it as one per-part
    pre-aggregation joined back — the rewrite every optimizer wants,
    made explicit.

    Exactness: quantities are integral doubles, so per-part sums are
    EXACT regardless of order; the 20%-of-avg threshold is compared
    as ``5 * q * cnt < sum_q`` in BIGINT — no float division, no
    boundary ulp, identical decisions in both engines.

    Plan shape: the selected-part slice broadcasts into lineitem
    (semi-style prune BEFORE the stats pass, so both the stats
    groupBy and the join-back run on the pruned slice), per-part
    stats join back partkey-to-partkey (shuffle on the same key →
    AQE-coalesced), final agg is brand-sized.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    sel = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") <= AVG_YEARLY_SIZE_CAP)
        .select("p_partkey", "p_brand")
    )
    pruned = li.join(
        F.broadcast(sel), li.l_partkey == sel.p_partkey
    ).select("l_partkey", "p_brand", "l_quantity", "l_extendedprice")
    stats = pruned.groupBy(F.col("l_partkey").alias("s_partkey")).agg(
        F.sum("l_quantity").cast("long").alias("sum_q"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        pruned.join(stats, pruned.l_partkey == stats.s_partkey)
        .filter(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("cnt")
            < F.col("sum_q")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_below"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


TPCH_AVG_YEARLY_ORACLE = f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_below,
           ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= {AVG_YEARLY_SIZE_CAP}
      AND 5 * CAST(l.l_quantity AS BIGINT)
            * (SELECT COUNT(*) FROM lineitem l2
               WHERE l2.l_partkey = l.l_partkey)
          < (SELECT CAST(SUM(l2.l_quantity) AS BIGINT) FROM lineitem l2
             WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
"""


def tpch_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer distribution by order count,
    INCLUDING the zero bucket (the part a naive inner-join GROUP BY
    silently drops): left join customers to their non-urgent orders,
    count per customer (0 when none), then histogram the counts.
    Two-level aggregation over one outer join; the zero bucket is
    the left join's raison d'être.

    Plan shape: join shuffles on custkey; both groupBys partial-
    aggregate (first to customer cardinality, then to the tiny
    distinct-count histogram). At 100 TB the orders side is pruned
    to one column + filter before the shuffle.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey")
    )
    per_c = cust.join(o, cust.c_custkey == o.o_custkey, "left").groupBy(
        "c_custkey"
    ).agg(F.count("o_custkey").alias("c_count"))
    return per_c.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    ).select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")


TPCH_CUSTDIST_ORACLE = """
    WITH per_c AS (
        SELECT c.c_custkey, COUNT(o.o_custkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_c
    GROUP BY c_count
"""


# --- price/volume/mix revenue bridge ------------------------------------

PVM_YEAR_A = 1995
PVM_YEAR_B = 1996


def price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE/VOLUME/MIX revenue-bridge decomposition between two
    adjacent years, per market segment — the standard FP&A "why did
    revenue move" waterfall: with g = total-volume growth
    (Q_b / Q_a over ALL segments),

      volume effect  = rev_a * (g - 1)           (rode overall growth)
      mix effect     = price_a * (qty_b - qty_a * g)  (share shift)
      price effect   = (price_b - price_a) * qty_b    (rate change)

    and the three effects sum EXACTLY to rev_b - rev_a per segment
    (algebraic identity, pinned in pytest before output rounding).

    Determinism: per-segment revenues enter the bridge ALREADY
    rounded to cents (the repo's money contract, identical in both
    engines), quantities are exact integer sums, and every effect is
    a scalar double expression over those identical inputs — IEEE
    arithmetic is correctly rounded, so both engines produce the
    same doubles; outputs round once at 4 dp.

    Plan shape: one stats-gated lineitem ⋈ orders join (broadcast
    orders below the catalog gate, the co-partitioned shuffle past
    it) + broadcast segment lookup → a segments x 2 aggregate; the
    bridge itself is a segment-count-sized projection against a
    broadcast 1-row total.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("y")
    )
    # stats-gated (catalog rowcount bounds the 1:1 orders projection):
    # below the gate lineitem is never shuffled; at 100 TB this
    # degrades to the co-partitioned shuffle join
    orders = _stats_gated(orders, sf_dir, "orders")
    seg = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .filter(F.col("y").isin(PVM_YEAR_A, PVM_YEAR_B))
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(F.when(F.col("y") == PVM_YEAR_A, SALES())), 2
            ).alias("rev_a"),
            F.round(
                F.sum(F.when(F.col("y") == PVM_YEAR_B, SALES())), 2
            ).alias("rev_b"),
            F.sum(
                F.when(F.col("y") == PVM_YEAR_A, F.col("l_quantity"))
            ).cast("long").alias("qty_a"),
            F.sum(
                F.when(F.col("y") == PVM_YEAR_B, F.col("l_quantity"))
            ).cast("long").alias("qty_b"),
        )
    )
    totals = base.agg(
        F.sum("qty_a").alias("tq_a"), F.sum("qty_b").alias("tq_b")
    )
    g = F.col("tq_b") / F.col("tq_a")
    price_a = F.col("rev_a") / F.col("qty_a")
    price_b = F.col("rev_b") / F.col("qty_b")
    return (
        base.crossJoin(F.broadcast(totals))
        .select(
            F.col("c_mktsegment").alias("segment"),
            "rev_a",
            "rev_b",
            "qty_a",
            "qty_b",
            F.round(F.col("rev_a") * (g - 1), 4).alias("volume_effect"),
            F.round(
                price_a * (F.col("qty_b") - F.col("qty_a") * g), 4
            ).alias("mix_effect"),
            F.round((price_b - price_a) * F.col("qty_b"), 4).alias(
                "price_effect"
            ),
            F.round(F.col("rev_b") - F.col("rev_a"), 2).alias("delta_rev"),
        )
    )


PRICE_VOLUME_MIX_ORACLE = f"""
    WITH base AS (
        SELECT c.c_mktsegment,
               ROUND(SUM(CASE WHEN year(o.o_orderdate) = {PVM_YEAR_A}
                         THEN {SALES_SQL} END), 2) AS rev_a,
               ROUND(SUM(CASE WHEN year(o.o_orderdate) = {PVM_YEAR_B}
                         THEN {SALES_SQL} END), 2) AS rev_b,
               CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_YEAR_A}
                        THEN l_quantity END) AS BIGINT) AS qty_a,
               CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_YEAR_B}
                        THEN l_quantity END) AS BIGINT) AS qty_b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) IN ({PVM_YEAR_A}, {PVM_YEAR_B})
        GROUP BY c.c_mktsegment
    ), totals AS (
        SELECT SUM(qty_a) AS tq_a, SUM(qty_b) AS tq_b FROM base
    )
    SELECT b.c_mktsegment AS segment,
           b.rev_a, b.rev_b, b.qty_a, b.qty_b,
           ROUND(b.rev_a * (t.tq_b * 1.0 / t.tq_a - 1), 4)
               AS volume_effect,
           ROUND((b.rev_a / b.qty_a)
                 * (b.qty_b - b.qty_a * (t.tq_b * 1.0 / t.tq_a)), 4)
               AS mix_effect,
           ROUND((b.rev_b / b.qty_b - b.rev_a / b.qty_a) * b.qty_b, 4)
               AS price_effect,
           ROUND(b.rev_b - b.rev_a, 2) AS delta_rev
    FROM base b CROSS JOIN totals t
"""
