"""Pipeline orchestration tests: staging guards, load-id sequencing,
audit log, partitioned fact output, view materialization (SURVEY §3,
C1-C7; reference invariants FIXTURES.md §4)."""

import contextlib
import os

import pytest
from pyspark.sql import functions as F

# Spark jobs one sf0.001 build runs: one per artifact written (with
# AQE, one more per shuffle or broadcast stage) plus the staging guards.
# A re-read count or a Spark-written audit row per step breaks it.
FULL_BUILD_JOBS = 64
INCREMENTAL_BUILD_JOBS = 41


@contextlib.contextmanager
def job_group(spark, sf_dir, group):
    """Tag the Spark jobs run inside the block with ``group``; yields a
    function returning how many there were so far. The catalog's table
    scans are built first, so their schema jobs, which run only on the
    session's first load of a table, do not make the count depend on
    which tests ran before."""
    from global_superstore_data_warehouse_spark.catalog import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    from pyspark.sql.types import StructType

    from global_superstore_data_warehouse_spark.plans.pipeline import run_pipeline
    from global_superstore_data_warehouse_spark.sources.audit import LOG_SCHEMA, read_log

    out = str(tmp_path / "wh")
    with job_group(spark, sf_dir, "test_pipeline_end_to_end") as jobs:
        counts = run_pipeline(spark, sf_dir, out)
        assert jobs() <= FULL_BUILD_JOBS
    assert counts["staging.orders"] > 0
    assert counts["3nf/fct_orders"] > 0
    assert counts["dm/yearly_sales_profit"] > 0

    # fact is directory-partitioned by order_year (C6 replacement)
    years = [d for d in os.listdir(os.path.join(out, "3nf/fct_orders")) if d.startswith("order_year=")]
    assert len(years) > 1

    # every returned count is the row count of what was written
    from global_superstore_data_warehouse_spark.sources.staging import read_load

    for key, n in counts.items():
        if key.startswith("staging."):
            # partition pruning works on the staged load (P3)
            path = os.path.join(out, "staging", key.split(".", 1)[1])
            assert read_load(spark, path, 1).count() == n, key
        else:
            assert spark.read.parquet(os.path.join(out, key)).count() == n, key

    # audit log has one row per step (C7), with the declared schema,
    # and ignores a temp file a crashed audit write leaves behind
    log_dir = os.path.join(out, "etl_log")
    with open(os.path.join(log_dir, ".part-crashed.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")
    log = read_log(spark, log_dir)
    assert log.schema == StructType.fromDDL(LOG_SCHEMA)
    assert log.count() == len(counts)
    assert log.filter(F.col("rows_affected") <= 0).count() == 0
    assert {r.procedure_name: r.rows_affected for r in log.collect()} == {
        (f"stage_{k.split('.', 1)[1]}" if k.startswith("staging.") else k): n
        for k, n in counts.items()
    }


def test_staging_guards(spark, sf_dir, tmp_path, monkeypatch):
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.sources.staging import (
        AlreadyLoadedError,
        EmptySourceError,
        LoadIdSequencer,
        stage_append,
    )

    seq = LoadIdSequencer(str(tmp_path / "meta/load_id.json"))
    assert seq.current() == 0
    assert seq.next() == 1
    assert seq.next() == 2
    assert seq.current() == 2

    # a crash while writing the new id leaves the old one readable
    import json

    def crash(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(OSError):
        seq.next()
    monkeypatch.undo()
    assert seq.current() == 2
    assert seq.next() == 3

    region = load(spark, sf_dir, "region")
    target = str(tmp_path / "staging/region")
    stage_append(region, target, 1)
    with pytest.raises(AlreadyLoadedError):
        stage_append(region, target, 1)  # C4: double-load guard
    with pytest.raises(EmptySourceError):
        stage_append(region.filter(F.lit(False)), target, 2)  # C3: empty source


def test_csv_roundtrip_all_string(spark, sf_dir, tmp_path):
    """S1: CSV read with declared all-string schema (no inference)."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.sources.csv import read_csv

    nation = load(spark, sf_dir, "nation")
    csv_dir = str(tmp_path / "nation_csv")
    nation.coalesce(1).write.option("header", True).csv(csv_dir)
    back = read_csv(spark, csv_dir, ["n_nationkey", "n_name", "n_regionkey"])
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * 3
    assert back.count() == nation.count()
    # values survive the string roundtrip
    assert back.filter(F.col("n_name").isNull()).count() == 0


def test_incremental_pipeline(spark, sf_dir, tmp_path):
    """Two-load incremental build: staging gains one load_id partition
    per load, the double-load guard fires, and the incrementally
    assembled fact equals the full rebuild."""
    import pytest as _pytest

    from global_superstore_data_warehouse_spark.plans.fact import fact_orders
    from global_superstore_data_warehouse_spark.plans.pipeline import (
        run_incremental_pipeline,
    )
    from global_superstore_data_warehouse_spark.sources.staging import (
        AlreadyLoadedError,
        read_load,
        stage_append,
    )

    out = str(tmp_path / "inc")
    overwrite_mode = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(overwrite_mode)
    with job_group(spark, sf_dir, "test_incremental_pipeline") as jobs:
        counts = run_incremental_pipeline(spark, sf_dir, out)
        assert jobs() <= INCREMENTAL_BUILD_JOBS
    # dynamic overwrite is scoped to the pipeline's own writer
    assert spark.conf.get(overwrite_mode) == mode_before
    staged = spark.read.parquet(f"{out}/staging_inc/orders")
    assert sorted(r.load_id for r in staged.select("load_id").distinct().collect()) == [1, 2]
    # incremental fact == full rebuild
    full = fact_orders(spark, sf_dir)
    inc = spark.read.parquet(f"{out}/3nf_inc/fct_orders")
    assert inc.count() == full.count() == counts["fact_total"]
    # each load's counts are the rows it staged and the fact rows of its years
    for load_id, label in ((1, "initial"), (2, "increment")):
        orders = read_load(spark, f"{out}/staging_inc/orders", load_id)
        assert orders.count() == counts[f"{label}.orders"]
        years = orders.select(F.year("o_orderdate").alias("order_year")).distinct()
        assert inc.join(years, "order_year").count() == counts[f"{label}.fact_rows"]
    assert inc.select("order_key", "line_number").exceptAll(
        full.select("order_key", "line_number")
    ).count() == 0
    # double-load guard
    from global_superstore_data_warehouse_spark.catalog import load as _load

    with _pytest.raises(AlreadyLoadedError):
        stage_append(_load(spark, sf_dir, "orders"), f"{out}/staging_inc/orders", 2)


def test_tune_shuffle_for_input(spark, sf_dir):
    from global_superstore_data_warehouse_spark.session import tune_shuffle_for_input

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = tune_shuffle_for_input(spark, [f"{sf_dir}/lineitem.parquet"])
        assert n >= spark.sparkContext.defaultParallelism
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_compact_parquet_preserves_data(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.sources.staging import compact_parquet

    target = str(tmp_path / "fragmented")
    src = load(spark, sf_dir, "orders")
    # simulate a micro-batch sink: many tiny appends
    for i in range(5):
        src.filter(F.col("o_orderkey") % 5 == i).repartition(8).write.mode(
            "append"
        ).parquet(target)
    import os

    before_files = len([f for f in os.listdir(target) if f.endswith(".parquet")])
    before_rows = spark.read.parquet(target).count()
    after_files = compact_parquet(spark, target)
    assert after_files < before_files
    assert spark.read.parquet(target).count() == before_rows == src.count()
