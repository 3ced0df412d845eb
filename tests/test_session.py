"""Session configuration tests."""

# text-dedup queries that together need more generated classes (about 120
# at sf0.001) than Spark's default codegen cache holds (100): at that
# default the second round recompiles most of them. jaccard_prefix_pairs
# is left out: it can compile new classes on an identical repeat call.
REPEATED = ("minhash_lsh_candidates", "dedup_clusters", "cosine_topk", "vocab_topk")


def test_codegen_cache_holds_a_repeated_round(spark, sf_dir):
    """A second identical round compiles no new classes: the codegen
    cache that ``session_confs`` sizes keeps every class of the first.
    The JVM's JIT compile time never runs backwards across a query."""
    from global_superstore_data_warehouse_spark import registry
    from global_superstore_data_warehouse_spark.session import (
        codegen_compiles,
        jit_compile_ms,
    )

    qs = registry.queries()

    def run_round() -> int:
        before = codegen_compiles(spark)
        for name in REPEATED:
            jit_before = jit_compile_ms(spark)
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            assert jit_compile_ms(spark) >= jit_before, name
        return codegen_compiles(spark) - before

    run_round()
    assert run_round() == 0


def test_tier4_thresholds_reach_the_driver_jvm(spark):
    """The tier-4 (C2) thresholds ``session_confs`` passes as
    ``spark.driver.extraJavaOptions`` are the live JVM's values: the
    options reached the JVM that pyspark launched."""
    from global_superstore_data_warehouse_spark.session import (
        TIER4_DEFAULTS,
        TIER4_FACTOR,
    )

    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = {flag: int(bean.getVMOption(flag).getValue()) for flag in TIER4_DEFAULTS}
    assert live == {flag: d * TIER4_FACTOR for flag, d in TIER4_DEFAULTS.items()}
