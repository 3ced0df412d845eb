"""SparkSession factory with scale-oriented defaults.

The reference runs inside a single Postgres backend; our execution
model is Spark's driver/executor DAG. These configs are chosen for
cluster behavior (AQE re-planning, skew-join handling, broadcast
thresholds) and remain correct on ``local[N]`` test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """Local cores to plan for: ``SPARK_GRAFT_CPUS`` when set, else the
    host's core count (a fixed default oversubscribes small hosts)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def session_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """THE session config dict — the single source the bench, the
    driver entry, and every measurement tool build from (round-14,
    ADVICE fix: tools/stageprof.py hand-copied this list, so any
    future default change would silently diverge the measurement
    session from the bench session). Resolves the same env knobs as
    ``get_spark``.

    - AQE on: runtime shuffle-partition coalescing, skew-join
      splitting, and dynamic join-strategy demotion to broadcast —
      the main levers that make the same plan survive a 100x
      scale-up without hand-tuning.
    - UTC session timezone: parquet timestamps are interpreted
      identically across engines (and the DuckDB oracle).
    - Arrow enabled for any pandas interop (similarity / multimodal
      operators use Arrow-batched pandas UDFs, never row-at-a-time).
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", _cpus()))
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound per-task memory of mapInPandas/applyInPandas batches
        # (multimodal blobs ride in these; 10k rows/batch keeps a
        # task's Arrow buffer under control at any blob size skew)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
    }


def get_spark(
    app_name: str = "global-superstore-dw",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the warehouse
    workload — see ``session_confs`` for the config rationale."""
    master = os.environ.get("SPARK_MASTER", f"local[{_cpus()}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TARGET_SHUFFLE_PARTITION_BYTES = 128 * 1024 * 1024


def tune_shuffle_for_input(spark: SparkSession, input_paths: list[str]) -> int:
    """Spill-aware shuffle sizing: set ``spark.sql.shuffle.partitions``
    so a post-shuffle partition of the given inputs targets ~128 MB —
    small enough to aggregate/join in executor memory without spill,
    large enough to amortize task overhead. AQE coalescing then trims
    the tail at runtime; this sets the UPPER bound AQE works under.

    Sizing reads filesystem metadata only (no data scan). Returns the
    partition count applied. At 100 TB: 100e12 / 128e6 ≈ 800k initial
    partitions — which is why the ceiling matters; without it a
    too-small static setting spills every executor, a too-large one
    drowns the scheduler.
    """
    import os

    total = 0
    for p in input_paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    # parquet→in-memory expansion ~3x for the scanned columns
    n = max(
        spark.sparkContext.defaultParallelism,
        int(total * 3 / TARGET_SHUFFLE_PARTITION_BYTES),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n
