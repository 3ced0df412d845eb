"""End-to-end pipeline orchestrator (SURVEY §3 E1-E3, C1/C2):
staging → 3NF → DM → view refresh, with per-step audit logging.

Mirrors the reference's strict ordering (`bl_cl_load()` →
`run_3nf()` → `run_dm()` → REFRESH MATERIALIZED VIEW,
bl_cl.sql:292,1382,2184,2257-2261): dims build before the fact so FK
lookups resolve; views materialize last. Each `.write` is an action
boundary — the Spark analogue of the reference's per-procedure
transactions. Each step costs one Spark job per artifact written
(plus the staging guards): the rowcount it returns and audits is the
write's own observed metric (``staging.write_counted``), and its audit
row is driver-side metadata (``audit.log_step``), like the load-id
file — neither re-reads nor writes through Spark.

Physical layout decisions (100 TB-oriented):
- staged sources partitioned by load_id (incremental appends prune);
- the fact written `partitionBy("order_year")` — the reference's
  yearly range partitions (C6, bl_cl.sql:1147-1187) become directory
  partitions with dynamic partition pruning on read;
- materialized views recomputed + overwritten (S7 semantics);
- incremental fact loads use dynamic partition overwrite as an option
  of that one writer, never as a session setting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.plans import fact as fact_plan
from global_superstore_data_warehouse_spark.plans import views, warehouse
from global_superstore_data_warehouse_spark.sources.audit import log_step
from global_superstore_data_warehouse_spark.sources.staging import (
    LoadIdSequencer,
    stage_append,
    write_counted,
)

STAGED_TABLES = ("orders", "lineitem", "customer", "supplier", "part", "nation", "region")


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Full warehouse build; returns per-artifact rowcounts."""
    log_path = os.path.join(out_dir, "etl_log")
    counts: dict[str, int] = {}

    # --- E1: ingestion with load-id bookkeeping ---
    seq = LoadIdSequencer(os.path.join(out_dir, "_meta", "load_id.json"))
    load_id = seq.next()
    for t in STAGED_TABLES:
        n = stage_append(load(spark, sf_dir, t), os.path.join(out_dir, "staging", t), load_id)
        counts[f"staging.{t}"] = n
        log_step(spark, log_path, f"stage_{t}", n, "staged", load_id)

    # --- E2: 3NF build (dims in dependency order, then fact) ---
    def write_table(df: DataFrame, name: str, partition_by: str | None = None) -> int:
        path = os.path.join(out_dir, name)
        n = write_counted(
            df,
            lambda w: (w.partitionBy(partition_by) if partition_by else w)
            .mode("overwrite")
            .parquet(path),
        )
        counts[name] = n
        log_step(spark, log_path, name, n, "loaded", load_id)
        return n

    write_table(warehouse.dim_market(spark, sf_dir), "3nf/dim_market")
    write_table(warehouse.dim_geography(spark, sf_dir), "3nf/dim_geography")
    write_table(warehouse.dim_product_hierarchy(spark, sf_dir), "3nf/dim_products")
    write_table(warehouse.dim_date(spark, sf_dir), "3nf/dim_date")
    write_table(fact_plan.fact_orders(spark, sf_dir), "3nf/fct_orders", partition_by="order_year")

    # --- E3: DM materialized views (recompute-and-overwrite = REFRESH) ---
    write_table(views.yearly_sales_profit(spark, sf_dir), "dm/yearly_sales_profit")
    write_table(views.sales_employees_regions(spark, sf_dir), "dm/sales_employees_regions")

    return counts


def run_incremental_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """The reference's actual operating mode: per-load micro-increments
    (bl_cl.sql:43-68 + the incremental 7z sources). Orders/lineitem are
    split by order year into successive loads; each load

    1. allocates a load_id (S4) and stages its slice — double-staging
       the same load_id raises (S3/C4);
    2. appends ONLY the affected yearly fact partitions via dynamic
       partition overwrite — untouched years' directories are never
       rewritten (the 100 TB property: incremental cost scales with
       the increment, not the table).

    Returns rowcounts per load and the final fact count.
    """
    from pyspark.sql import functions as F

    counts: dict[str, int] = {}
    seq = LoadIdSequencer(os.path.join(out_dir, "_meta", "load_id.json"))
    log_path = os.path.join(out_dir, "etl_log")
    fact_path = os.path.join(out_dir, "3nf_inc", "fct_orders")

    orders = load(spark, sf_dir, "orders")
    years = sorted(
        r.y for r in orders.select(F.year("o_orderdate").alias("y")).distinct().collect()
    )
    split = years[len(years) // 2]
    slices = [
        ("initial", F.year(F.col("o_orderdate")) <= split, lambda y: y <= split),
        ("increment", F.year(F.col("o_orderdate")) > split, lambda y: y > split),
    ]

    full_fact = fact_plan.fact_orders(spark, sf_dir)
    for label, ord_pred, year_pred in slices:
        load_id = seq.next()
        ord_slice = orders.filter(ord_pred)
        n = stage_append(
            ord_slice, os.path.join(out_dir, "staging_inc", "orders"), load_id
        )
        counts[f"{label}.orders"] = n
        log_step(spark, log_path, f"stage_inc_orders_{label}", n, "staged", load_id)

        fact_slice = full_fact.filter(
            F.col("order_year").isin([y for y in years if year_pred(y)])
        )
        # dynamic overwrite: only this load's year directories rewrite
        counts[f"{label}.fact_rows"] = write_counted(
            fact_slice,
            lambda w: w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("order_year")
            .parquet(fact_path),
        )
        log_step(
            spark, log_path, f"fact_inc_{label}", counts[f"{label}.fact_rows"],
            "loaded", load_id,
        )

    counts["fact_total"] = spark.read.parquet(fact_path).count()
    return counts


# --- incremental materialized-view maintenance ------------------------

def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV refresh via ALGEBRAIC state merge: the reference
    refreshes its materialized views by full recompute (S7,
    bl_dm.sql's REFRESH MATERIALIZED VIEW); at 100 TB the refresh
    must instead fold the DELTA batch into the persisted aggregate
    state. SUM/COUNT are mergeable partials, and AVG must be carried
    as (sum, count) — never averaged-of-averages — which is exactly
    what this plan does:

        state_old  = agg(orders minus delta)     -- persisted in prod
        state_new  = merge(state_old, agg(delta)) by re-summing
        avg        = merged_sum / merged_count   -- derived LAST

    The delta here is a deterministic 10% md5 slice standing in for a
    late-arriving load (the driver provides static parquet only); in
    production state_old is a stored table and only agg(delta) +
    the groups-sized merge run per refresh — cost scales with the
    increment, not the table. The oracle is the FULL direct
    recompute: hash-equality proves merge(partials) == recompute,
    the incremental-view-maintenance invariant.
    """
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ivm:"), F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 10
    )
    state_old = mv_partial(orders.filter(bucket != 9))
    delta = mv_partial(orders.filter(bucket == 9))
    return mv_finalize(mv_merge(state_old, delta))


# The algebraic pieces, exposed so the STREAMING twin
# (streaming/events.mv_refresh_stream) folds micro-batch deltas with
# literally the same code: partial -> merge -> finalize.


def mv_partial(orders: DataFrame) -> DataFrame:
    """Mergeable partial state of the MV for any orders slice."""
    from pyspark.sql import functions as F

    return orders.groupBy(
        F.year("o_orderdate").alias("order_year"), F.col("o_orderpriority")
    ).agg(
        F.sum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def mv_merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta's partials into the state: re-sum the mergeable
    components (groups-sized work, never table-sized)."""
    from pyspark.sql import functions as F

    return (
        state.unionByName(delta)
        .groupBy("order_year", "o_orderpriority")
        .agg(
            F.sum("sum_price").alias("sum_price"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


def mv_finalize(state: DataFrame) -> DataFrame:
    """Derive the non-mergeable outputs (avg, rounding) LAST, off the
    raw partial state — never stored, never merged."""
    from pyspark.sql import functions as F

    return state.select(
        "order_year",
        "o_orderpriority",
        F.round("sum_price", 2).alias("sum_price"),
        "n_orders",
        F.round(F.col("sum_price") / F.col("n_orders"), 6).alias("avg_price"),
    )


_IVM_BUCKET = (
    "CAST(('0x' || substr(md5('ivm:' || CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10"
)

# direct full recompute — equality with the merged partials is the
# incremental-maintenance correctness claim. The oracle ALSO merges
# two partials (mirroring the summation grouping) so float addition
# order matches the two-phase plan; values are rounded identically.
INCREMENTAL_MV_REFRESH_ORACLE = f"""
    WITH partials AS (
        SELECT year(o_orderdate) AS order_year, o_orderpriority,
               SUM(o_totalprice) AS sum_price, COUNT(*) AS n_orders
        FROM orders WHERE {_IVM_BUCKET} <> 9
        GROUP BY 1, 2
        UNION ALL
        SELECT year(o_orderdate), o_orderpriority,
               SUM(o_totalprice), COUNT(*)
        FROM orders WHERE {_IVM_BUCKET} = 9
        GROUP BY 1, 2
    )
    SELECT order_year, o_orderpriority,
           ROUND(SUM(sum_price), 2) AS sum_price,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           ROUND(SUM(sum_price) / SUM(n_orders), 6) AS avg_price
    FROM partials
    GROUP BY order_year, o_orderpriority
"""
