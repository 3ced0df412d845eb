"""maybe_broadcast — the size-gated broadcast hint (operators/hints).

Both modes are asserted at the PLAN level: below the row gate the
join compiles to a BroadcastHashJoin; above it the hint is dropped
and (with AQE's auto-broadcast disabled for the assertion) the same
code compiles to a shuffle join. Hash-parity of the gated callers
(dedup_clusters, copurchase_triangles) is covered by their oracle
tests — the gate must never change results, only strategy.
"""

from pyspark.sql import DataFrame

from global_superstore_data_warehouse_spark.operators import hints
from global_superstore_data_warehouse_spark.operators.hints import maybe_broadcast


def _physical(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def _join_plan(spark, gated_small: DataFrame) -> str:
    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    return _physical(big.join(gated_small, "k"))


def test_small_frame_gets_broadcast_hint(spark, monkeypatch):
    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 100)
    small = spark.range(0, 10).withColumnRenamed("id", "k")
    plan = _join_plan(spark, maybe_broadcast(small))
    assert "BroadcastHashJoin" in plan


def test_large_frame_drops_the_hint(spark, monkeypatch):
    # gate of 0 rows: nothing qualifies — with auto-broadcast off the
    # plan must fall back to a shuffle join, proving no hint leaked
    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = spark.range(0, 10).withColumnRenamed("id", "k")
        plan = _join_plan(spark, maybe_broadcast(small))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_known_rows_skips_the_count(spark, monkeypatch):
    # n_rows is trusted verbatim — a frame whose real size exceeds
    # the gate still gets the hint when the caller vouches for it
    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 10)
    small = spark.range(0, 50).withColumnRenamed("id", "k")
    plan = _join_plan(spark, maybe_broadcast(small, n_rows=5))
    assert "BroadcastHashJoin" in plan


def test_gated_plans_identical_results_in_shuffle_mode(spark, monkeypatch):
    """End-to-end proof that the gate never changes RESULTS, only
    strategy: with the global gate forced to 0 rows (every hint
    dropped — the billions-of-nodes posture), dedup_clusters and
    copurchase_triangles produce byte-identical output."""
    from global_superstore_data_warehouse_spark.plans.linkrank import (
        copurchase_triangles,
    )
    from global_superstore_data_warehouse_spark.plans.textops import dedup_clusters

    sf = "/root/testdata/sf0.001"
    want_clusters = sorted(map(tuple, dedup_clusters(spark, sf).collect()))
    want_tri = sorted(map(tuple, copurchase_triangles(spark, sf).collect()))

    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 0)
    got_clusters = sorted(map(tuple, dedup_clusters(spark, sf).collect()))
    got_tri = sorted(map(tuple, copurchase_triangles(spark, sf).collect()))

    assert got_clusters == want_clusters
    assert got_tri == want_tri


def test_stats_gated_views_identical_results_in_shuffle_mode(spark, monkeypatch):
    """The round-9 statistics-gated views (footer rowcounts ->
    broadcast hint on the orders side) must produce byte-identical
    output with the gate forced to 0 rows — the 100 TB posture where
    orders exceeds any broadcastable size and the same code runs the
    shuffle join."""
    from global_superstore_data_warehouse_spark.plans.views import (
        demand_category_region,
        yearly_sales_profit,
    )

    sf = "/root/testdata/sf0.001"
    want_y = sorted(map(tuple, yearly_sales_profit(spark, sf).collect()))
    want_d = sorted(map(tuple, demand_category_region(spark, sf).collect()))

    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 0)
    assert sorted(map(tuple, yearly_sales_profit(spark, sf).collect())) == want_y
    assert sorted(map(tuple, demand_category_region(spark, sf).collect())) == want_d


def test_stats_gated_drops_hint_above_gate(spark, monkeypatch):
    """Plan-level proof for the stats gate itself: with the gate at 0
    rows and auto-broadcast off, the orders join in
    demand_category_region compiles WITHOUT a broadcast on the
    orders side (the lineitem<->orders stage becomes a shuffle
    join)."""
    from global_superstore_data_warehouse_spark.plans.views import (
        demand_category_region,
    )

    monkeypatch.setattr(hints, "BROADCAST_MAX_ROWS", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _physical(demand_category_region(spark, "/root/testdata/sf0.001"))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_table_rows_sums_part_files(spark, tmp_path):
    """catalog.table_rows must handle the real cluster layout — a
    DIRECTORY of part files — by summing footer counts, still
    driver-side metadata only."""
    from global_superstore_data_warehouse_spark.catalog import table_rows

    out = str(tmp_path / "orders.parquet")
    spark.range(0, 1000).repartition(4).write.parquet(out)
    assert table_rows(str(tmp_path), "orders") == 1000


def test_table_rows_sees_in_place_rewrite(spark, tmp_path):
    """The rowcount stat gates join strategy, so it must NOT be
    cached forever per (sf_dir, name): an in-place rewrite of a
    gated table (fixture regeneration, a COW-backed catalog table)
    has to re-read the footers, or a >gate table could silently keep
    planning as a broadcast from stale counts. The cache key carries
    a stat-derived freshness token (mtime_ns + bytes)."""
    from global_superstore_data_warehouse_spark.catalog import table_rows

    out = str(tmp_path / "orders.parquet")
    spark.range(0, 100).write.parquet(out)
    assert table_rows(str(tmp_path), "orders") == 100
    spark.range(0, 2500).write.mode("overwrite").parquet(out)
    assert table_rows(str(tmp_path), "orders") == 2500


def test_load_memo_reuses_plan_and_sees_rewrite(spark, tmp_path):
    """Round 11: catalog.load memoizes the DataFrame per (session,
    dir, table, freshness token). Two loads of an unchanged table
    must return the SAME object (the saving — no py4j/footer work);
    an in-place rewrite must invalidate the memo and the fresh plan
    must see the new data."""
    from global_superstore_data_warehouse_spark.catalog import load

    out = str(tmp_path / "orders.parquet")
    spark.range(0, 100).selectExpr("id AS o_orderkey").write.parquet(out)
    a = load(spark, str(tmp_path), "orders")
    b = load(spark, str(tmp_path), "orders")
    assert a is b
    assert a.count() == 100
    spark.range(0, 37).selectExpr("id AS o_orderkey").write.mode(
        "overwrite"
    ).parquet(out)
    c = load(spark, str(tmp_path), "orders")
    assert c is not a
    assert c.count() == 37


# --- round-13 additions: spread_scan / cpu_repartition ----------------


def test_spread_scan_fires_on_tiny_table(spark, sf_dir):
    """A table far smaller than maxPartitionBytes x parallelism must
    gain an explicit repartition (the input-skew guard) — visible as
    an Exchange between the parquet scan and downstream work."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.operators.hints import spread_scan

    df = spread_scan(load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id")
    assert "Exchange" in _physical(df)
    # result-preserving: same rows, just redistributed
    base = load(spark, sf_dir, "documents")
    assert df.count() == base.count()


def test_spread_scan_noop_past_the_gate(spark, sf_dir, monkeypatch):
    """Past the size gate (production scale) the SAME call returns
    the scan untouched — plan byte-identical, no extra exchange."""
    from global_superstore_data_warehouse_spark import catalog
    from global_superstore_data_warehouse_spark.catalog import load

    monkeypatch.setattr(catalog, "table_bytes", lambda d, n: 10**15)
    df = hints.spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    assert "Exchange" not in _physical(df)


def test_spread_scan_reads_size_string_conf(spark, sf_dir, monkeypatch):
    """maxPartitionBytes is a size string: '1k' must move the gate (a
    table of 4 KiB per slot spreads under the 128 MB default but not
    under 1 KiB splits), and a malformed value must raise at plan
    time rather than fall back to a default."""
    import pytest

    from global_superstore_data_warehouse_spark import catalog
    from global_superstore_data_warehouse_spark.catalog import load

    key = "spark.sql.files.maxPartitionBytes"
    docs = load(spark, sf_dir, "documents")
    n = hints._session_parallelism(docs)
    monkeypatch.setattr(catalog, "table_bytes", lambda d, t: 4096 * n)

    def spread() -> DataFrame:
        return hints.spread_scan(docs, sf_dir, "documents", by="doc_id")

    assert "Exchange" in _physical(spread())
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "1k")
        assert "Exchange" not in _physical(spread())
    finally:
        spark.conf.set(key, saved)
    assert "Exchange" in _physical(spread())

    # Spark refuses a malformed value at conf.set, so serve it from get
    real_get = spark.conf.get
    monkeypatch.setattr(
        spark.conf, "get",
        lambda k, *a: "12xyz" if k == key else real_get(k, *a),
    )
    with pytest.raises(Exception, match="xyz"):
        spread()


def test_cpu_repartition_pins_width_against_aqe(spark):
    """cpu_repartition must produce a user-specified repartition that
    AQE does not coalesce: after an action, the RDD partition count
    equals the session shuffle setting even though the data is tiny
    (AQE would coalesce a plain shuffle of this size to 1)."""
    from global_superstore_data_warehouse_spark.operators.hints import (
        _session_parallelism,
        cpu_repartition,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    out = cpu_repartition(df, "k")
    n = _session_parallelism(df)
    assert out.rdd.getNumPartitions() == n
    assert out.count() == 1000
