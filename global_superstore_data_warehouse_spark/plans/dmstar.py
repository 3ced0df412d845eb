"""DM-layer star queries (SURVEY §2.4 J8, §2.8 C8/E3).

- ``order_details_wide`` — the 9-way star join the reference's
  dm_fact load performs (bl_cl.sql:2098-2116: fact left-joined to
  every DM dim, incl. the order_date → FK_Date_ID re-keying into the
  generated date dimension at bl_cl.sql:2116).
- ``qa_rowcounts`` — the post-load QA probe (bl_cl.sql:2191-2215):
  one row per warehouse table with its rowcount.

Scale notes: the only big-big join is lineitem ⋈ orders (shuffle on
orderkey); every dimension side — customer/supplier geography chains,
part hierarchy, date dim — is broadcast, so the wide row assembly
adds zero extra shuffles. The date re-key is pure arithmetic
(days-since-epoch-of-min) rather than a join against the generated
calendar, which removes even that lookup from the hot path while
producing identical ids to ``warehouse.dim_date``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import TABLES, load
from global_superstore_data_warehouse_spark.operators.hints import stats_gated


def order_details_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    # customer-side geography chain (market) and supplier-side chain
    # (employee region) — two independent broadcast snowflakes.
    cust_geo = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("customer_country"),
            F.col("r_name").alias("market"),
        )
    )
    supp_geo = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            F.col("s_name").alias("employee_name"),
            F.col("r_name").alias("employee_region"),
        )
    )
    prod = part.select(
        "p_partkey",
        F.col("p_name").alias("product"),
        F.col("p_brand").alias("category"),
        F.col("p_type").alias("subcategory"),
    )
    # date re-keying (bl_cl.sql:2116): FK into the generated date dim;
    # date_id rule identical to warehouse.dim_date (days since min+1).
    lo = orders.agg(F.min(F.to_date("o_orderdate")).alias("lo"))
    ord_keyed = orders.crossJoin(F.broadcast(lo)).select(
        "o_orderkey",
        "o_custkey",
        (F.datediff(F.to_date("o_orderdate"), "lo") + 1).cast("long").alias("fk_date_id"),
        F.col("o_orderpriority").alias("order_priority"),
    )

    # stats-gated broadcast of the orders side (ord_keyed is a
    # 1:1 projection of orders, so the catalog rowcount bounds it):
    # below the gate lineitem is never shuffled; at 100 TB the same
    # code degrades to the shuffle join
    ord_keyed = stats_gated(ord_keyed, sf_dir, "orders")
    return (
        lineitem.join(ord_keyed, lineitem.l_orderkey == ord_keyed.o_orderkey)
        .join(F.broadcast(cust_geo), ord_keyed.o_custkey == cust_geo.c_custkey, "left")
        .join(F.broadcast(supp_geo), lineitem.l_suppkey == supp_geo.s_suppkey, "left")
        .join(F.broadcast(prod), lineitem.l_partkey == prod.p_partkey, "left")
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            "fk_date_id",
            "order_priority",
            "customer_name",
            "segment",
            "customer_country",
            "market",
            "employee_name",
            "employee_region",
            "product",
            "category",
            "subcategory",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sales"),
            F.col("l_quantity").cast("long").alias("quantity"),
        )
    )


ORDER_DETAILS_WIDE_ORACLE = """
    WITH lo AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo FROM orders)
    SELECT l.l_orderkey AS order_key,
           l.l_linenumber AS line_number,
           CAST(date_diff('day', lo.lo, CAST(o.o_orderdate AS DATE)) + 1 AS BIGINT) AS fk_date_id,
           o.o_orderpriority AS order_priority,
           c.c_name AS customer_name,
           c.c_mktsegment AS segment,
           cn.n_name AS customer_country,
           cr.r_name AS market,
           s.s_name AS employee_name,
           sr.r_name AS employee_region,
           p.p_name AS product,
           p.p_brand AS category,
           p.p_type AS subcategory,
           l.l_extendedprice * (1 - l.l_discount) AS sales,
           CAST(l.l_quantity AS BIGINT) AS quantity
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    CROSS JOIN lo
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    LEFT JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    LEFT JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    LEFT JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
"""


def qa_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rowcount probe of every table (bl_cl.sql:2191-2215). Each
    count is an independent scan-only job; metadata-only for parquet
    (count pushed to footer stats)."""
    counts = None
    for t in TABLES:
        c = load(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("row_count")
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts.orderBy("table_name")


QA_ROWCOUNTS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS row_count FROM {t}" for t in TABLES
) + "\nORDER BY table_name"


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse data-quality report: the reference's NOT NULL/CHECK/
    UNIQUE/FK constraints (bl_3nf.sql:48-218) evaluated as explicit
    rules — row-level checks in one scan per table, plus referential
    and grain-uniqueness checks."""
    from global_superstore_data_warehouse_spark.operators.quality import (
        column_rules,
        referential_rule,
        uniqueness_rule,
    )

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")

    ord_rules = column_rules(
        orders,
        [
            ("orders.totalprice_nonneg", F.col("o_totalprice") < 0),
            ("orders.orderdate_not_null", F.col("o_orderdate").isNull()),
            (
                "orders.priority_in_domain",
                ~F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
                ),
            ),
        ],
    )
    li_rules = column_rules(
        lineitem,
        [
            ("lineitem.quantity_range", ~F.col("l_quantity").between(1, 50)),
            ("lineitem.discount_range", ~F.col("l_discount").between(0, 1)),
        ],
    )
    fk = referential_rule(
        lineitem, orders, "l_orderkey", "o_orderkey", "lineitem.orderkey_fk"
    )
    fk2 = referential_rule(
        orders, customer, "o_custkey", "c_custkey", "orders.custkey_fk"
    )
    uq = uniqueness_rule(orders, ["o_orderkey"], "orders.orderkey_unique")
    return (
        ord_rules.unionByName(li_rules)
        .unionByName(fk)
        .unionByName(fk2)
        .unionByName(uq)
        .orderBy("rule_name")
    )


DQ_REPORT_ORACLE = """
    SELECT 'orders.totalprice_nonneg' AS rule_name,
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           COUNT(*) AS total FROM orders
    UNION ALL
    SELECT 'orders.orderdate_not_null',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders
    UNION ALL
    SELECT 'orders.priority_in_domain',
           CAST(SUM(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
               THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders
    UNION ALL
    SELECT 'lineitem.quantity_range',
           CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.discount_range',
           CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.orderkey_fk',
           CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'orders.custkey_fk',
           CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           COUNT(*) FROM orders
    UNION ALL
    SELECT 'orders.orderkey_unique',
           CAST((SELECT COALESCE(SUM(c), 0) FROM
              (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT),
           COUNT(*) FROM orders
    ORDER BY rule_name
"""


DUP_CHECK_KEYS = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey", "lineitem": "l_orderkey, l_linenumber"}


def qa_duplicates_any_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's generic dynamic-SQL duplicate checker
    (check_for_duplicates, bl_cl.sql:2217-2226, invoked per table at
    2229-2255; F13 format()-templated SQL → Python f-strings driving
    ``spark.sql``). Each table is registered as a temp view and probed
    with the same templated statement."""
    parts = []
    for t, key in DUP_CHECK_KEYS.items():
        load(spark, sf_dir, t).createOrReplaceTempView(f"__qa_{t}")
        parts.append(f"""
            SELECT '{t}' AS table_name,
                   CAST(COUNT(*) AS BIGINT) AS duplicate_keys,
                   CAST(COALESCE(SUM(c), 0) AS BIGINT) AS duplicate_rows
            FROM (SELECT {key}, COUNT(*) AS c FROM __qa_{t}
                  GROUP BY {key} HAVING COUNT(*) > 1)
        """)
    return spark.sql(" UNION ALL ".join(parts) + " ORDER BY table_name")


QA_DUPLICATES_ANY_TABLE_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{t}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS duplicate_keys,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS duplicate_rows
    FROM (SELECT {key}, COUNT(*) AS c FROM {t} GROUP BY {key} HAVING COUNT(*) > 1)
    """
    for t, key in DUP_CHECK_KEYS.items()
) + " ORDER BY table_name"
