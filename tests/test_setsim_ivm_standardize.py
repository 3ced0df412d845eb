"""Oracle parity + invariants for the exact set-similarity join,
incremental MV maintenance, and embedding standardization."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_matches_oracle, normalize

NEW_QUERIES = [
    "jaccard_prefix_pairs",
    "incremental_mv_refresh",
    "embedding_standardize",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_matches_oracle(spark, duck, sf_dir, name):
    assert_matches_oracle(spark, duck, name, sf_dir)


def test_prefix_filter_recall_is_exactly_one(spark, sf_dir):
    """The prefix-filter candidate set must contain EVERY pair the
    brute-force all-pairs Jaccard finds — recall 1.0, not approx
    (this is the exactness theorem, checked mechanically against a
    Spark-side brute-force on the token sets)."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.functions.text import tokens
    from global_superstore_data_warehouse_spark.plans.setsim import (
        TAU,
        jaccard_prefix_pairs,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_prefix_pairs(spark, sf_dir).collect()
    }

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.filter(tokens("text"), lambda t: t != "")).alias("ts"),
    ).withColumn("n", F.size("ts"))
    a = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"), F.col("n").alias("na")
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"), F.col("n").alias("nb")
    )
    sh = F.size(F.array_intersect("ts_a", "ts_b"))
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jac", sh / (F.col("na") + F.col("nb") - sh))
        .filter(F.col("jac") >= TAU)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == brute


def test_incremental_refresh_equals_full_recompute(spark, sf_dir):
    """merge(state_old, delta) must equal the one-shot direct
    aggregation (float-tolerant compare — the hash oracle pins the
    bit-stable two-phase form; this pins the semantic IVM claim)."""
    import pandas as pd

    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.plans.pipeline import (
        incremental_mv_refresh,
    )

    got = normalize(incremental_mv_refresh(spark, sf_dir).toPandas())
    orders = load(spark, sf_dir, "orders")
    full = normalize(
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"), F.col("o_orderpriority")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice") / F.count(F.lit(1)), 6).alias("avg_price"),
        )
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, full, check_dtype=False, rtol=1e-6, atol=1e-6)


def test_standardized_dims_are_zero_mean_unit_var(spark, sf_dir):
    from global_superstore_data_warehouse_spark.plans.embeddings import (
        embedding_standardize,
    )

    stats = (
        embedding_standardize(spark, sf_dir)
        .groupBy("dim")
        .agg(F.avg("z").alias("mu"), F.stddev_samp("z").alias("sigma"))
        .collect()
    )
    assert len(stats) == 64
    for r in stats:
        assert abs(r["mu"]) < 1e-4
        assert abs(r["sigma"] - 1.0) < 1e-4


def test_salt_factor_gate_logic():
    """Skew-conditional salting (round-14): replication fires only
    when the hottest token block claims >= a 1/SALTS share of all
    classes; degenerate/empty stats disable it."""
    from global_superstore_data_warehouse_spark.plans.setsim import (
        SALTS,
        _salt_factor,
    )

    assert _salt_factor(None, 100) == 1          # empty vocabulary
    assert _salt_factor(0, 100) == 1
    assert _salt_factor(100, 100) == SALTS       # saturated: every class
    assert _salt_factor(4, 4 * SALTS) == SALTS   # exactly at the gate
    assert _salt_factor(3, 4 * SALTS) == 1       # just below
    assert _salt_factor(1, 100_000) == 1         # unskewed vocabulary


def _unskewed_corpus() -> list[str]:
    """120 docs in 40 groups over a wide vocabulary: docs 3g and 3g+1
    hold the same 20-token set (in different orders), doc 3g+2 adds
    one token (Jaccard 20/21 >= TAU with both, and a proper superset
    of both). 80 classes; a group's 20 base tokens sit in its two
    classes, so max df is 2 and 2 * SALTS < 80 classes."""
    texts = []
    for g in range(40):
        base = [f"g{g}t{j}" for j in range(20)]
        texts += [" ".join(base), " ".join(reversed(base)), " ".join(base + [f"g{g}x"])]
    return texts


@pytest.mark.parametrize("plan", ["jaccard_prefix_pairs", "superset_containment"])
def test_unskewed_corpus_disables_salting_same_output(spark, tmp_path, monkeypatch, plan):
    """On an UNSKEWED vocabulary (no token in a 1/SALTS share of the
    classes) the salt gate must return 1 — the un-replicated join —
    while the plan still reproduces a brute-force reference. The
    decision is read off ``_salt_factor`` itself: Catalyst folds the
    literal salt sequence into an array constant, so plan text cannot
    show which way the gate went."""
    from global_superstore_data_warehouse_spark.plans import setsim

    gate = setsim._salt_factor
    decisions = []

    def recording_gate(max_df, n_classes):
        decisions.append((max_df, n_classes, gate(max_df, n_classes)))
        return decisions[-1][2]

    monkeypatch.setattr(setsim, "_salt_factor", recording_gate)
    texts = _unskewed_corpus()
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = sorted(map(tuple, getattr(setsim, plan)(spark, str(tmp_path)).collect()))
    assert decisions == [(2, 80, 1)]

    sets = [frozenset(t.split()) for t in texts]
    if plan == "jaccard_prefix_pairs":
        want = []
        for i, a in enumerate(sets):
            for j in range(i + 1, len(sets)):
                shared, union = len(a & sets[j]), len(a | sets[j])
                if shared / union >= setsim.TAU:
                    want.append((i, j, shared, round(shared / union, 6)))
        assert len(want) == 3 * 40
    else:
        want = [
            (i, len(s), sum(t == s for t in sets) - 1, sum(t > s for t in sets))
            for i, s in enumerate(sets)
        ]
    assert got == sorted(want)
