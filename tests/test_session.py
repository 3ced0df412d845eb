"""Session configuration tests."""

# text-dedup queries that together need more generated classes (about 120
# at sf0.001) than Spark's default codegen cache holds (100): at that
# default the second round recompiles most of them. jaccard_prefix_pairs
# is left out: it can compile new classes on an identical repeat call.
REPEATED = ("minhash_lsh_candidates", "dedup_clusters", "cosine_topk", "vocab_topk")


def test_codegen_cache_holds_a_repeated_round(spark, sf_dir):
    """A second identical round compiles no new classes: the codegen
    cache that ``session_confs`` sizes keeps every class of the first."""
    from global_superstore_data_warehouse_spark import registry
    from global_superstore_data_warehouse_spark.session import codegen_compiles

    qs = registry.queries()

    def run_round() -> int:
        before = codegen_compiles(spark)
        for name in REPEATED:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    run_round()
    assert run_round() == 0
