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


# HotSpot's JDK 17 tier-4 (C2) compile thresholds, and the factor this
# package raises them by (see ``session_confs``). Tiers 1-3 (C1) keep
# their defaults.
TIER4_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
TIER4_FACTOR = 10


def session_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """THE session config dict — the single source the bench, the
    driver entry, and every measurement tool build from, so a
    measurement session never diverges from the bench session.
    Resolves the same env knobs as ``get_spark``.

    - AQE on: runtime shuffle-partition coalescing, skew-join
      splitting, and dynamic join-strategy demotion to broadcast —
      the main levers that make the same plan survive a 100x
      scale-up without hand-tuning.
    - UTC session timezone: parquet timestamps are interpreted
      identically across engines (and the DuckDB oracle).
    - Arrow enabled for any pandas interop (similarity / multimodal
      operators use Arrow-batched pandas UDFs, never row-at-a-time).
    - Codegen cache sized to the working set: Spark's default LRU of
      100 compiled whole-stage classes is smaller than one pass of any
      workload here (text_dedup needs 178 classes, elt_build about 300,
      one round of the full query registry about 3,700), so every pass
      evicted the last one's classes and recompiled them all with
      Janino. 4096 entries hold a full-registry round; a repeated call
      then compiles nothing, for about 21 MB more Metaspace. A static
      conf: it takes effect only when it builds the JVM's first session.
    - Tier-4 (C2) JIT thresholds raised ``TIER4_FACTOR`` times. In a
      fresh JVM, one sf0.01 ``elt_build`` pass spent 17.8 s of CPU in
      HotSpot's compiler threads against 5.3 s in executor tasks: 1,635
      C2 compiles (26.9 s of compiler time in JFR), only 1.7 s of it on
      Spark's generated classes, the rest on Janino, Catalyst, the JDK,
      Kryo and Scala code that is hot for a few seconds, then idles.
      At x10 that code stays C1-compiled for a short pass while loops
      that really are hot still reach C2 (an sf0.1 lineitem scan
      crosses 400k back-edges in its first round); the pass's CPU fell
      about a quarter. C1 only (``TieredStopAtLevel=1``) saved more
      CPU but ran the sf0.1 headline 2.1x slower. SCALE.md has the
      measurements. A JVM option: it takes effect only when this
      package launches the driver JVM.
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
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.driver.extraJavaOptions": " ".join(
            f"-XX:{flag}={default * TIER4_FACTOR}"
            for flag, default in TIER4_DEFAULTS.items()
        ),
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


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). The difference
    over a repeated call is the number of generated classes the codegen
    cache missed."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def jit_compile_ms(spark: SparkSession) -> int:
    """Milliseconds the driver JVM's JIT compilers have spent so far
    (C1 and C2, summed over compiler threads). The difference over a
    call is the HotSpot compile time that call triggered."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return int(mx.getCompilationMXBean().getTotalCompilationTime())


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
