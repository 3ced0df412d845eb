"""Link-analysis over the part co-purchase graph: distributed
PageRank with a FIXED, deterministic iteration count (beyond-
reference; the reference engine has no graph analytics).

Graph: nodes are parts, with an (undirected, expressed as two
directed) edge between any two parts that co-occur in at least one
order — the same basket relation ``plans/retail.market_basket_pairs``
mines, here consumed as adjacency. PageRank over it surfaces the
"hub" products whose co-purchase neighborhoods matter most; the same
plan shape serves any entity-affinity graph (doc-link, user-follow,
citation).

Scale shape (the iterative classic, like operators/graph.py's
connected components and plans/embeddings.kmeans_assign):

- Edge build: one distinct projection of (order, part), self-joined
  on the ORDER key — cost bounded by basket size squared per order,
  never catalog size squared.
- Edges + out-degrees are computed ONCE and ``localCheckpoint``ed
  (narrow integer rows): each of the K rounds re-reads the frozen
  edge list instead of re-running the basket self-join lineage.
- Each round is exactly one shuffle: ranks ⋈ edges on src
  (broadcast-able if ranks fit, hash otherwise), groupBy dst, plus
  the damping projection. K rounds = K shuffles, fully distributed,
  no driver-side state (the driver only holds N, a scalar).
- FIXED iteration count keeps the output a pure deterministic
  function of the input — and lets the DuckDB oracle replay the
  identical K rounds as unrolled CTEs. Every node has out-degree
  >= 1 by construction (edges are bidirectional), so there is no
  dangling-mass term.
- RUNTIME CONVERGENCE PROBES (round 9, always on): the fixed
  round counts are corpus-pinned at test SF, so each iterative
  operator now self-checks at runtime, wherever the plan runs —
  not only under pytest. k-core and BFS assert the true fixed
  point (one extra peel/hop changes nothing — a scalar count);
  PageRank's K rounds ARE its contract (the oracle unrolls exactly
  K), so its probe asserts the theory-backed contraction invariant
  ||r_K - r_{{K-1}}||_1 <= d^(K-1) * ||r_1 - r_0||_1 <= d^(K-1) * 2
  on the two iterates the loop ALREADY computes (round-10 change:
  the previous probe ran a full extra round to diff K vs K+1 —
  same guarantee, one whole edge-join/agg round more expensive).
  It holds on ANY corpus and catches mass leaks / damping bugs.
  Probe cost: k-core/BFS one extra scalar peel/hop; PageRank one
  node-frame checkpoint + a node-keyed diff job (~free next to the
  edge joins). The probes always run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.operators.debugplan import dump_plan
from global_superstore_data_warehouse_spark.operators.hints import (
    cpu_repartition,
    maybe_broadcast,
)

DAMPING = 0.85
N_ITER = 5


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Directed edge list (src, dst), both directions, one row per
    distinct co-purchased part pair.

    Round-14 rewrite (guide §2.3/§2.4 — the shared preamble of five
    graph queries): the old basket SELF-JOIN shuffled the distinct
    (order, part) projection three times (the distinct itself plus
    both join sides re-keyed on the order key). Collapsing each
    order's parts into ONE set row first (``collect_set`` partial-
    aggregates map-side and deduplicates in the same exchange) and
    exploding the ordered pairs INSIDE the post-shuffle stage emits
    the identical pair multiset with a single order-keyed exchange
    and no join build. Per-order cost is still basket², bounded by
    basket size — never catalog size — exactly as before."""
    sets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    return (
        sets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _assert_contraction(prev: DataFrame, curr: DataFrame, bound: float) -> None:
    """Raise unless ||curr - prev||_1 <= bound (+float slack): the
    power-iteration contraction invariant between two consecutive
    rank iterates, both (node, rank, ...) frames. Split out so the
    raise condition is unit-testable against synthetic violating
    iterates (tests/test_linkrank_fk_entropy.py)."""
    delta = (
        prev.select("node", F.col("rank").alias("rank_prev"))
        .join(curr.select("node", "rank"), "node")
        .agg(F.sum(F.abs(F.col("rank") - F.col("rank_prev"))))
        .first()[0]
    )
    if delta is None or delta > bound + 1e-9:
        raise RuntimeError(
            f"pagerank contraction probe failed: L1 delta between the "
            f"final iterates = {delta!r} > bound {bound:.6f}"
        )


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 rounds, uniform 1/N start) over the
    part co-purchase graph. Output: one row per node with its final
    rank (rounded) and out-degree. rank_{t+1}(v) = (1-d)/N +
    d * sum over in-neighbors u of rank_t(u) / outdeg(u)."""
    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # nodes == sources (bidirectional edges -> same set as dsts)
    n_nodes = deg.count()  # scalar only; the rank table stays distributed
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(1.0 / n_nodes).alias("rank"),
        "outdeg",
    ).localCheckpoint(eager=True)

    def _round(r: DataFrame) -> DataFrame:
        # size-gated broadcast of the NODE-sized rank frame (n_nodes
        # is already a driver scalar): the checkpointed rank RDD has
        # no Catalyst stats, so without the hint every round planned
        # a SortMergeJoin that re-shuffled the EDGE table — measured
        # at sf0.1: one ~22 MB edge exchange per round, 5 rounds
        # (guide §2.4/§3.1: a broadcast join replaces the shuffle of
        # the large side). Past the row gate (billions of nodes) the
        # hint drops itself and the same plan degrades to the
        # shuffle join deliberately.
        contrib = (
            maybe_broadcast(r, n_rows=n_nodes)
            .join(edges, r.node == edges.src)
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        return (
            r.select("node", "outdeg")
            .join(
                maybe_broadcast(contrib, n_rows=n_nodes),
                r.node == contrib.dst,
                "left",
            )
            .select(
                "node",
                (
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
                "outdeg",
            )
        )

    # Contraction invariant (corpus-independent): power iteration
    # contracts L1 by the damping factor per round, and the first
    # step moves at most the total mass both ways, so
    # ||r_K - r_{K-1}||_1 <= d^(K-1) * ||r_1 - r_0||_1 <= d^(K-1)*2.
    # A violation means a mass leak / damping bug, not "data got
    # bigger" — safe to assert wherever the plan runs. Asserted on
    # the two iterates the loop already computes (the checkpoint of
    # r_{K-1} materializes work round K needs anyway), NOT by running
    # an extra round: the probe's marginal cost is one node-keyed
    # diff job over two node-sized cached frames.
    for i in range(N_ITER):
        if i == N_ITER - 1:
            ranks = ranks.localCheckpoint(eager=True)
            prev = ranks
        ranks = _round(ranks)
        if i == 0:
            # evidence hook (no-op unless SPARK_GRAFT_PLAN_DIR is
            # set): the final explain only shows the post-checkpoint
            # projection, so the per-round join strategy the
            # broadcast gate changes is captured here instead
            dump_plan(ranks, "part_pagerank_round_body")
    ranks = ranks.localCheckpoint(eager=True)  # probe + result reuse it
    _assert_contraction(prev, ranks, DAMPING ** (N_ITER - 1) * 2.0)
    return ranks.select(
        F.col("node").alias("l_partkey"),
        F.round(F.col("rank") * 1e6, 6).alias("rank_ppm"),
        "outdeg",
    )


def _pagerank_oracle() -> str:
    """The identical K rounds unrolled as CTEs (deterministic because
    the iteration count is fixed)."""
    d, k = DAMPING, N_ITER
    cte = [
        """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
        SELECT src AS node, 1.0 / nn.n AS rank, outdeg FROM deg, nn
    )"""
    ]
    for i in range(1, k + 1):
        cte.append(
            f""",
    r{i} AS (
        SELECT p.node,
               (1.0 - {d}) / nn.n + {d} * COALESCE(m.in_mass, 0.0) AS rank,
               p.outdeg
        FROM (SELECT node, outdeg FROM r{i - 1}) p
        LEFT JOIN (
            SELECT e.dst, SUM(r.rank / r.outdeg) AS in_mass
            FROM r{i - 1} r JOIN edges e ON r.node = e.src
            GROUP BY e.dst
        ) m ON p.node = m.dst
        CROSS JOIN nn
    )"""
        )
    cte.append(
        f"""
    SELECT node AS l_partkey,
           ROUND(rank * 1e6, 6) AS rank_ppm,
           CAST(outdeg AS BIGINT) AS outdeg
    FROM r{k}"""
    )
    return "".join(cte)


PART_PAGERANK_ORACLE = _pagerank_oracle()


# --- triangle counting (degree-ordered orientation) -------------------


def _oriented_copurchase(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared degree-ordered orientation of the part co-purchase
    graph: returns (deg, eo) — the per-node degree table and the
    oriented edge list (src -> dst in the lexicographic (deg, id)
    total order, with deg_dst carried for wedge ordering). Both
    checkpointed. Used by the global triangle census and the
    per-node clustering-coefficient plan."""
    li = load(spark, sf_dir, "lineitem")
    # per-order set collapse instead of the basket self-join — same
    # rewrite as _copurchase_edges (round-14, guide §2.3/§2.4): one
    # order-keyed exchange, pairs exploded post-shuffle, no join build
    sets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    und = (
        sets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ends = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    )
    deg = ends.groupBy("node").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    n_key_rows = deg.count()  # cached — gates the broadcast hints
    ku = maybe_broadcast(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")),
        n_rows=n_key_rows,
    )
    kv = maybe_broadcast(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")),
        n_rows=n_key_rows,
    )
    keyed = und.join(ku, "u").join(kv, "v")
    # orient low -> high in the (deg, id) lexicographic total order
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    eo = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
    ).localCheckpoint(eager=True)
    return deg, eo


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph: node and
    edge counts, wedge count, triangle count, and the global
    clustering coefficient 3T / wedges — the one-row graph-shape
    fingerprint (how cliquish is co-purchasing).

    Scale shape — the degree-ordered orientation classic (the
    MapReduce triangle-counting standard): orient every undirected
    edge from its lower (degree, id) endpoint to the higher, making
    the graph a DAG whose max out-degree is O(sqrt(m)); wedges are
    pairs of out-edges of a common source (bounded by sum of
    out-degree^2, the oriented bound, NOT the raw degree^2 sum a
    hub would explode); each triangle is counted exactly once, when
    the wedge (v, w) closes with the oriented edge v->w. Edges are
    checkpointed narrow longs; three hash joins total, no window,
    no driver-side state.

    The (degree, id) total order is compared LEXICOGRAPHICALLY as
    two columns (identically in the DuckDB oracle) — never encoded
    into one arithmetic key, which would silently stop being a total
    order once node ids outgrow the base. The degree keying table is
    node-sized and rides a size-gated broadcast (maybe_broadcast):
    at billions of nodes the hint drops itself and the same plan
    runs as shuffle joins.
    """
    deg, eo = _oriented_copurchase(spark, sf_dir)
    n_edges = eo.count()  # scalar; cached checkpoint rows — gates the hint
    # PINNED-width wedge stage: the self-join exchanges eo on src and
    # AQE byte-coalescing then shrank the wedge-enumeration stage to
    # 10 tasks holding ~28 s of CPU (measured at sf0.1) — bytes are a
    # bad cost proxy for wedge work. The explicit repartition is one
    # exchange REUSED by both join sides and exempt from coalescing.
    eo_w = cpu_repartition(eo, "src")
    w1, w2 = eo_w.alias("w1"), eo_w.alias("w2")
    # each unordered out-edge pair once: strict (deg, id) order on dst
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            (F.col("w1.deg_dst") < F.col("w2.deg_dst"))
            | (
                (F.col("w1.deg_dst") == F.col("w2.deg_dst"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            )
        ),
    ).select(F.col("w1.dst").alias("x"), F.col("w2.dst").alias("y"))
    # size-gated broadcast of the closing edge list: the wedge set
    # (the big intermediate) is then probed in the SAME stage and
    # never shuffles on (x, y) — guide §3.1; past the gate the hint
    # drops and the plan degrades to the shuffle join
    closing = maybe_broadcast(
        eo.select(F.col("src").alias("x"), F.col("dst").alias("y")), n_rows=n_edges
    )
    tri = wedges.join(closing, ["x", "y"]).agg(F.count(F.lit(1)).alias("n_triangles"))

    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return (
        summary.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


COPURCHASE_TRIANGLES_ORACLE = """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und
        ) GROUP BY node
    ), keyed AS (
        SELECT e.u, e.v, du.deg AS deg_u, dv.deg AS deg_v
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ), eo AS (
        SELECT CASE WHEN (deg_u, u) < (deg_v, v) THEN u ELSE v END AS src,
               CASE WHEN (deg_u, u) < (deg_v, v) THEN v ELSE u END AS dst,
               CASE WHEN (deg_u, u) < (deg_v, v) THEN deg_v ELSE deg_u END
                   AS deg_dst
        FROM keyed
    ), tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM eo w1
        JOIN eo w2 ON w1.src = w2.src
                  AND (w1.deg_dst, w1.dst) < (w2.deg_dst, w2.dst)
        JOIN eo c ON c.src = w1.dst AND c.dst = w2.dst
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(SUM(deg) / 2 AS BIGINT) FROM deg) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * n_triangles
                 / (SELECT SUM(deg * (deg - 1) / 2) FROM deg), 6)
               AS clustering_coeff
    FROM tri
"""


# --- BFS hop layers ---------------------------------------------------

BFS_HOPS = 3


def copurchase_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance over the co-purchase graph from a
    deterministic seed (the minimum part key): which parts sit
    within BFS_HOPS hops of the seed, and at what distance — the
    frontier-expansion primitive behind "related products within k
    steps", blast-radius analysis, and graph feature generation.
    Completes the iterative-graph trio (PageRank = value diffusion,
    CC = contraction, BFS = frontier expansion).

    Scale shape: the frontier loop over the checkpointed edge list —
    per hop, one join frontier⋈edges on src (frontier-sized, not
    graph-sized) plus an anti-join against the visited set; both key
    on node id. Fixed hop count keeps the plan deterministic and the
    oracle an unrolled CTE chain; visited/frontier are narrow
    (node, dist) rows, checkpointed per hop so lineage stays flat.
    Unreached nodes are reported with dist = -1 (left join, not a
    filter) so the output tiles the node set exactly.
    """
    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    seed_key = nodes.agg(F.min("node")).collect()[0][0]  # scalar only

    visited = (
        nodes.filter(F.col("node") == seed_key)
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    # frontier/visited counts tracked as DRIVER SCALARS (round-14,
    # ADVICE fix): the per-hop broadcast gates used to run two extra
    # count() jobs each hop, and the drain check a third (isEmpty).
    # One count per new frontier now feeds the gates (visited_n is
    # the running sum — unions of disjoint frontiers) AND replaces
    # the isEmpty probe.
    frontier = visited
    frontier_n = 1 if seed_key is not None else 0
    visited_n = frontier_n
    for hop in range(1, BFS_HOPS + 1):
        neighbors = (
            # size-gated broadcast of the frontier (node-sized,
            # checkpointed → the gate reads a driver scalar):
            # without the hint the stats-less RDD frame planned a
            # SortMergeJoin that re-shuffled the EDGE table every
            # hop (guide §2.4); past the gate the hint drops itself
            maybe_broadcast(frontier, n_rows=frontier_n)
            .join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        prev_frontier = frontier
        hop_frame = neighbors.join(
            maybe_broadcast(visited.select("node"), n_rows=visited_n),
            "node",
            "left_anti",
        ).withColumn("dist", F.lit(hop))
        if hop == 1:
            # evidence hook (no-op unless SPARK_GRAFT_PLAN_DIR set)
            dump_plan(hop_frame, "copurchase_bfs_hop_body")
        frontier = hop_frame.localCheckpoint(eager=True)
        frontier_n = frontier.count()  # cached rows — gate + drain probe
        # the superseded frontier's blocks are dead once the new one
        # is materialized (at hop 1 it aliases `visited` — skip)
        if prev_frontier is not visited:
            prev_frontier.unpersist()
        if frontier_n == 0:
            break
        prev_visited = visited
        visited = visited.unionByName(frontier).localCheckpoint(eager=True)
        visited_n += frontier_n
        prev_visited.unpersist()
    else:
        # All hops used without the frontier draining. The fixed hop
        # budget is part of the contract ONLY because it is also the
        # graph's true eccentricity at every tested corpus — probe
        # that here (one frontier-sized join + isEmpty), wherever the
        # plan runs: a non-empty next frontier means reachable nodes
        # would be mis-reported as dist = -1.
        nxt = (
            maybe_broadcast(frontier, n_rows=frontier_n)
            .join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(
                maybe_broadcast(visited.select("node"), n_rows=visited_n),
                "node",
                "left_anti",
            )
        )
        if not nxt.isEmpty():
            raise RuntimeError(
                f"bfs probe: frontier not drained after {BFS_HOPS} "
                f"hops; raise BFS_HOPS and the oracle's unrolled "
                f"CTE depth together"
            )
    return (
        nodes.join(visited, "node", "left")
        .select(
            F.col("node").alias("l_partkey"),
            F.coalesce("dist", F.lit(-1)).alias("hop_dist"),
        )
    )


def _bfs_oracle() -> str:
    cte = [
        """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), seed AS (SELECT MIN(node) AS s FROM nodes),
    v0 AS (
        SELECT node, 0 AS dist FROM nodes, seed WHERE node = seed.s
    )"""
    ]
    for h in range(1, BFS_HOPS + 1):
        prev = f"v{h - 1}"
        cte.append(
            f""",
    v{h} AS (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT n.node, {h} AS dist
        FROM (
            SELECT DISTINCT e.dst AS node
            FROM {prev} f JOIN edges e ON e.src = f.node
            WHERE f.dist = {h - 1}
        ) n
        WHERE n.node NOT IN (SELECT node FROM {prev})
    )"""
        )
    cte.append(
        f"""
    SELECT n.node AS l_partkey,
           CAST(COALESCE(v.dist, -1) AS INTEGER) AS hop_dist
    FROM nodes n LEFT JOIN v{BFS_HOPS} v ON v.node = n.node"""
    )
    return "".join(cte)


COPURCHASE_BFS_LAYERS_ORACLE = _bfs_oracle()


# --- per-node local clustering coefficients -----------------------------


def clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE local clustering coefficients of the part co-purchase
    graph — the node-level drill-down of ``copurchase_triangles``'
    one-row global census: for every part with degree >= 2,
    lcc(v) = triangles_through_v / (deg_v choose 2), the "how
    clique-like is this node's neighborhood" feature used in fraud
    scoring, community seeding, and graph-feature engineering.

    Triangle attribution rides the SAME degree-ordered orientation
    (shared ``_oriented_copurchase`` helper): each triangle closes
    exactly once as (wedge source s, endpoints x, y), and crediting
    all THREE corners of each closed wedge gives every node its
    exact triangle count — no per-node neighborhood intersection,
    no re-enumeration. Zero-triangle nodes surface via a left join
    (lcc = 0), not a filter drop.

    Scale shape: identical join structure to the census (three hash
    joins bounded by the oriented out-degree O(sqrt(m))), plus one
    explode(3) on the TRIANGLE frame (triangles, not edges) and a
    node-sized groupBy + join. Exactness: lcc = 2T/(d*(d-1)) with
    integer T and d — both engines divide the same small integers.
    """
    deg, eo = _oriented_copurchase(spark, sf_dir)
    n_edges = eo.count()  # scalar; cached checkpoint rows — gates the hint
    # same pinned-width wedge stage + broadcast closing-edge probe as
    # copurchase_triangles (see the census for the measured rationale)
    eo_w = cpu_repartition(eo, "src")
    w1, w2 = eo_w.alias("w1"), eo_w.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            (F.col("w1.deg_dst") < F.col("w2.deg_dst"))
            | (
                (F.col("w1.deg_dst") == F.col("w2.deg_dst"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            )
        ),
    ).select(
        F.col("w1.src").alias("s"),
        F.col("w1.dst").alias("x"),
        F.col("w2.dst").alias("y"),
    )
    closing = maybe_broadcast(
        eo.select(F.col("src").alias("x"), F.col("dst").alias("y")), n_rows=n_edges
    )
    tri_corners = (
        wedges.join(closing, ["x", "y"])
        .select(F.explode(F.array("s", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri_corners, "node", "left")
        .select(
            F.col("node").alias("part"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("lcc"),
        )
    )


CLUSTERING_COEFFICIENTS_ORACLE = """
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und
        ) GROUP BY node
    ), keyed AS (
        SELECT e.u, e.v, du.deg AS deg_u, dv.deg AS deg_v
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ), eo AS (
        SELECT CASE WHEN (deg_u, u) < (deg_v, v) THEN u ELSE v END AS src,
               CASE WHEN (deg_u, u) < (deg_v, v) THEN v ELSE u END AS dst,
               CASE WHEN (deg_u, u) < (deg_v, v) THEN deg_v ELSE deg_u END
                   AS deg_dst
        FROM keyed
    ), tri AS (
        SELECT w1.src AS s, w1.dst AS x, w2.dst AS y
        FROM eo w1
        JOIN eo w2 ON w1.src = w2.src
                  AND (w1.deg_dst, w1.dst) < (w2.deg_dst, w2.dst)
        JOIN eo c ON c.src = w1.dst AND c.dst = w2.dst
    ), corners AS (
        SELECT node, COUNT(*) AS n_tri FROM (
            SELECT s AS node FROM tri
            UNION ALL SELECT x FROM tri
            UNION ALL SELECT y FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS part,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(c.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
               AS lcc
    FROM deg d LEFT JOIN corners c ON c.node = d.node
    WHERE d.deg >= 2
"""


# --- k-core membership (bounded peeling) --------------------------------

KCORE_K = 3
KCORE_ROUNDS = 8


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-CORE of the part co-purchase graph by BOUNDED PEELING:
    {R} rounds of "drop every node whose degree within the surviving
    subgraph is < {K}" — the classic dense-subgraph extractor
    (community cores, spam rings, the ANN-graph degeneracy bound).
    A FIXED round count keeps the plan a pure deterministic function
    (same discipline as PageRank's fixed K and BFS's fixed hops) and
    the oracle an unrolled CTE chain; convergence on THIS corpus —
    one more peel changes nothing — is pytest-pinned, so the bounded
    result IS the true k-core at every test SF. Output: surviving
    parts with their within-core degree.

    Scale shape: the edge list is checkpointed once; each round is
    two node-set semi-joins (edges pruned to surviving endpoints) +
    one groupBy(src) degree count + the >= k filter, all keyed on
    node id — per-round cost shrinks with the surviving subgraph.
    The active set is checkpointed per round so lineage stays flat.
    """
    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint(eager=True)
    # checkpoint the round-0 node set too: each round references it
    # TWICE (src and dst endpoint prunes), and the count that gates
    # the broadcast hints below then reads cached narrow rows
    active = (
        edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    )
    n_active = active.count()  # scalar only — gates the broadcasts

    def _core_deg(act: DataFrame, n_act: int) -> DataFrame:
        """Within-subgraph degree of the surviving nodes: both
        endpoint semi-joins ride a size-gated broadcast of the
        NODE-sized active set — the checkpointed RDD frame has no
        Catalyst stats, so without the hint every semi-join planned
        sort-merge and re-shuffled the EDGE table (measured at
        sf0.1: two ~22 MB edge exchanges per peel round x 8 rounds;
        guide §2.4). The groupBy(src) partial-aggregates map-side,
        so the only exchange left per round is node-sized. At
        billions of surviving nodes the gate drops the hint and the
        same plan degrades to the shuffle semi-joins."""
        return (
            edges.join(
                maybe_broadcast(act.select(F.col("node").alias("src")), n_rows=n_act),
                "src",
                "left_semi",
            )
            .join(
                maybe_broadcast(act.select(F.col("node").alias("dst")), n_rows=n_act),
                "dst",
                "left_semi",
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    at_fixed_point = False
    for rnd in range(KCORE_ROUNDS):
        deg = _core_deg(active, n_active)
        if rnd == 0:
            # evidence hook (no-op unless SPARK_GRAFT_PLAN_DIR set)
            dump_plan(deg, "kcore_membership_round_body")
        prev = active
        active = (
            deg.filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
        prev_n, n_active = n_active, active.count()
        # release the superseded round's node set; edges and the
        # FINAL active stay pinned because the returned plan still
        # reads them
        prev.unpersist()
        # SOUND early stop (round-13 optimization): peeling only ever
        # REMOVES nodes, so an UNCHANGED survivor count means the
        # surviving SET is unchanged — a fixed point — and every
        # remaining bounded round is the identity. Skipping them
        # computes the exact same final set (the oracle's unrolled
        # CTE chain is likewise idempotent past its fixed point).
        # Corpus-independent: at any scale this only trims provably
        # no-op rounds; a slow-converging graph still runs all
        # KCORE_ROUNDS.
        if n_active == prev_n:
            at_fixed_point = True
            break
    if not at_fixed_point:
        # Fixed-point probe: peeling only REMOVES nodes, so one more
        # round with an unchanged COUNT proves the bounded result IS
        # the true k-core — two scalar counts, wherever the plan
        # runs, not just at the pytest-pinned test SF.
        probe = (
            _core_deg(active, n_active).filter(F.col("d") >= KCORE_K).count()
        )
        if probe != n_active:
            raise RuntimeError(
                f"kcore probe: not converged after {KCORE_ROUNDS} rounds "
                f"({n_active} -> {probe} survivors; raise KCORE_ROUNDS "
                f"and the oracle's unrolled CTE depth together)"
            )
    final = (
        _core_deg(active, n_active)
        .withColumnRenamed("d", "core_deg")
        .filter(F.col("core_deg") >= KCORE_K)
    )
    return final.select(
        F.col("src").alias("part"),
        F.col("core_deg").cast("bigint").alias("core_deg"),
    )


kcore_membership.__doc__ = kcore_membership.__doc__.format(
    K=KCORE_K, R=KCORE_ROUNDS
)


def _kcore_oracle() -> str:
    # Every CTE is AS MATERIALIZED: each round references the previous
    # round TWICE (src and dst endpoint semi-joins), so without the
    # hint DuckDB may inline the chain — 2^ROUNDS copies of the
    # co-purchase self-join. At sf0.1 the un-hinted form spilled >80 GB
    # of temp and died on disk (round-12 sweep); materialized, each
    # round computes once and the chain is linear, mirroring the Spark
    # plan's per-round localCheckpoint.
    sql = """
    WITH basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), a0 AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM edges
    )"""
    prev = "a0"
    for i in range(1, KCORE_ROUNDS + 1):
        sql += f""", a{i} AS MATERIALIZED (
        SELECT e.src AS node
        FROM edges e
        JOIN {prev} s ON s.node = e.src
        JOIN {prev} t ON t.node = e.dst
        GROUP BY e.src
        HAVING COUNT(*) >= {KCORE_K}
    )"""
        prev = f"a{i}"
    sql += f"""
    SELECT e.src AS part, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM edges e
    JOIN {prev} s ON s.node = e.src
    JOIN {prev} t ON t.node = e.dst
    GROUP BY e.src
    HAVING COUNT(*) >= {KCORE_K}"""
    return sql


KCORE_MEMBERSHIP_ORACLE = _kcore_oracle()
