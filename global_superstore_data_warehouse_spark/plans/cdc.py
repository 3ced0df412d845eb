"""CDC ordered-apply: materialize a table from a snapshot plus an
ordered change stream of upserts and delete tombstones.

The reference's load procedures apply one batch of changes per run
(insert-new / update-changed, bl_cl.sql's MERGE-style blocks); a CDC
feed generalizes that to a totally-ordered stream of I/U/D operations
per key where the LAST operation wins and a trailing delete removes
the row. The scalable shape is NOT "loop over changes in order"
(the reference's cursor idiom) — it is one window per key:

    row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1
    ... then drop rows whose surviving op is a delete.

One shuffle on the key, O(changes) state, no iteration — the same
plan at 100 changes or 100 TB of them. The streaming twin is
``applyInPandasWithState`` keyed by the same column (or Delta's
``MERGE`` per micro-batch on a Delta-equipped cluster).

The change stream here is derived deterministically from the static
``orders`` table (the driver provides no real CDC feed): a 75% slice
is the base snapshot (seq 0), the rest arrive as inserts (seq 1),
every 7th key gets a price-bump update (seq 2), and every 11th key a
delete tombstone (seq 3) — so keys divisible by both 7 and 11
exercise the update-then-delete ordering, and deleted-then-never-
reinserted keys must vanish from the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + synthetic ordered change stream over orders."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    snapshot = o.filter(k % 4 != 3).select(
        "*", F.lit("I").alias("op"), F.lit(0).alias("seq")
    )
    inserts = o.filter(k % 4 == 3).select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    updates = o.filter(k % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        # raw IEEE multiply, deliberately NOT rounded: ROUND at a
        # half-way cent differs between engines (HALF_UP decimal vs
        # binary-double rounding), while the product itself is
        # bit-identical everywhere
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    deletes = o.filter(k % 11 == 0).select(
        "o_orderkey",
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    return snapshot.unionByName(inserts).unionByName(updates).unionByName(deletes)


def cdc_apply(changes: DataFrame, key: str, seq: str = "seq", op: str = "op") -> DataFrame:
    """Apply an ordered CDC stream: keep each key's highest-``seq``
    row, drop keys whose final operation is a delete. Ties on ``seq``
    are broken by op precedence D > U > I (a delete and an upsert
    carrying the same sequence number resolve to the delete — the
    conservative reading), making the result deterministic even on
    feeds with coarse sequence numbers.

    One hash shuffle on ``key``; the window scans each key group once.
    Carries a ``version_count`` audit column (operations seen per
    key — the reference's audit-count posture, bl_cl.sql load logs).
    """
    prec = F.when(F.col(op) == "D", 2).when(F.col(op) == "U", 1).otherwise(0)
    w = Window.partitionBy(key).orderBy(F.col(seq).desc(), prec.desc())
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .withColumn("version_count", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .filter((F.col("rn") == 1) & (F.col(op) != "D"))
        .drop("rn", seq)
        .withColumnRenamed(op, "last_op")
    )


def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot ⊕ ordered I/U/D stream → final orders state."""
    return cdc_apply(_changes(spark, sf_dir), "o_orderkey").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "last_op",
        "version_count",
    )


CDC_APPLY_ORDERS_ORACLE = """
    WITH changes AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
               'I' AS op, 0 AS seq
        FROM orders WHERE o_orderkey % 4 <> 3
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'I', 1
        FROM orders WHERE o_orderkey % 4 = 3
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice * 1.1, 'U', 'U', 2
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, NULL, NULL, NULL, 'D', 3
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY seq DESC,
                            CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderkey) AS version_count
        FROM changes
    )
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           op AS last_op, version_count
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
"""
