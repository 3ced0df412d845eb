"""operators/graph.py — min-contraction connected components over a
hashed node order: union-find property tests, including the shapes
adversarial to min-based contraction, and a job budget on a long
path."""

import random

from global_superstore_data_warehouse_spark.operators.graph import (
    connected_components,
)

# Spark jobs one connected_components call plus its collect runs on the
# 201-node path below. Measured 74 (10 contraction levels at about 7
# jobs each, plus the edge checkpoint, the gate count and the relabel);
# the budget allows a small margin. Plain-id min-contraction needs 200
# levels on this path, over 1,000 jobs.
CHAIN_JOBS = 80


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _adversarial_graphs():
    """Shapes that defeat argmin-by-id contraction: a path whose ids
    increase along it (one node contracted per level), the same path
    reversed, a hub whose id is the largest, and two components whose
    ids interleave."""
    path = [(i, i + 1) for i in range(40)]
    return [
        path,
        [(b, a) for a, b in reversed(path)],
        [(100, i) for i in range(30)],
        [(i, i + 2) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(1, 41, 2)],
    ]


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(20260814)
    graphs = []
    for _ in range(6):
        n = rng.randint(4, 80)
        m = rng.randint(1, 120)
        graphs.append([(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)])
    for edges in graphs + _adversarial_graphs():
        nodes = sorted({x for e in edges for x in e})
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == _uf_components(edges, nodes)


def test_cc_chain_worst_case_diameter(spark):
    """A 201-node path with increasing ids: plain-id min-contraction
    needs 200 levels; the hashed order needs O(log n). The whole call
    must fit CHAIN_JOBS Spark jobs and label everything with the
    path's min."""
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    sc = spark.sparkContext
    group = "test_cc_chain_worst_case_diameter"
    sc.setJobGroup(group, group)
    try:
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert len(got) == 201
    assert set(got.values()) == {0}
    assert jobs <= CHAIN_JOBS, f"{jobs} jobs > budget {CHAIN_JOBS}"


def test_cc_no_python_workers(spark):
    """The iteration is pure JVM: no Arrow/Python eval nodes."""
    edges = [(i % 7, (i * 3) % 11) for i in range(40)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    out = connected_components(df)
    plan = out._jdf.queryExecution().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
