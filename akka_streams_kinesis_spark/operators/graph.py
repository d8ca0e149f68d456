"""Graph analytics over relationship tables: PageRank and triangle counting.

The reference has no graph surface (it is a Kinesis connector,
KinesisSource.scala / KinesisGraphStage.scala); these are north-star
extensions in the same family as the connected-components operator
(curation.py): iterative / combinatorial algorithms expressed as Catalyst
DAGs with explicitly bounded work per round.

Determinism discipline: PageRank is normally a float fixpoint — sums of
doubles across partitions are partial-aggregation-order dependent, the
exact divergence class that bit the round-5 rollups. Here the rank mass is
INTEGER units (1e12 total), every division is an integer FLOOR division,
and the damping factor is the exact rational 85/100 — so each iteration is
bit-identical in Spark and DuckDB regardless of aggregation order, and the
oracle can unroll the same iterations as CTEs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import explode_ordered_pairs
from ..io import table
from ..registry import query
from ..shared import shared_frame, transient_persist

# total rank mass in integer units; 1e12 spreads comfortably over any
# realistic node count while keeping per-edge contributions well above 0
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 3
# damping 0.85 as the exact rational 85/100 (never a double)
_PR_D_NUM, _PR_D_DEN = 85, 100

# triangle counting: drop super-node customers (distinct-supplier degree
# above this) before pair generation — the standard bound that keeps
# Σ deg² candidate work linear-ish when a hub would otherwise square it
_TRI_MAX_BASKET = 64
# co-supply edges are SIGNIFICANCE-thresholded, not fixed-support: an edge
# exists when shared > μ + 2σ of the all-pairs shared distribution —
# fixed support degenerates (complete graph at one scale, empty at
# another) because expected co-occurrence scales with |parts|·deg²/|V|².




def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier purchase edges from lineitem ⋈ orders.

    One shuffle each side on the join key; the DISTINCT collapses the
    fact-table multiplicity down to |customers|×avg-basket edges before
    any iterative work sees them. shared.py-cached once per (session,
    sf_dir): five graph queries (pagerank, jaccard link prediction,
    degree distribution, core peel, LPA) consume this identical edge
    list."""

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(
                F.col("o_custkey").alias("custkey"),
                F.col("l_suppkey").alias("suppkey"),
            )
            .distinct()
        )

    return shared_frame(spark, "purchase_edges", sf_dir, build)


def _purchase_dir_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both orientations of the labeled purchase graph
    (``c<custkey> ↔ s<suppkey>``), lineage-truncated ONCE.

    shared.py-cached (round-9 VERDICT ask #3): pagerank, personalized
    pagerank, and label propagation each used to rebuild this identical
    frame — three lineitem ⋈ orders ⋈ distinct pipelines and three
    materializations per bench run collapse into one.

    r13 (guide §2.4 — two operations keyed the same way share one
    exchange): the frame is hash-partitioned on ``dst`` ONCE at build
    time. Every per-round aggregate of every iterative consumer —
    PageRank/PPR's contribution sum by dst, LPA's (dst, label) vote
    count and per-node argmax — clusters on dst, and the per-round
    vertex-state joins are broadcasts that preserve the streamed side's
    partitioning, so all of those aggregates now run WITHOUT their own
    Exchange (partial+final hash-agg straight over the cached
    partitions; one 2|E| shuffle at build replaces 3 rounds × 3 queries
    of per-round shuffles whose partial-agg output is up to 2|E| rows in
    LPA's first round). persist (via shared_frame) rather than
    localCheckpoint is load-bearing: InMemoryRelation preserves the
    child's outputPartitioning, Scan ExistingRDD discards it (measured).
    repartition by COLUMN (no fixed N) leaves the partition count to AQE:
    shared._persist plans the cache with AQE, which coalesces it to the
    data's size and keeps it hash-partitioned on dst — scale-adaptive,
    not a local[32] tune (tests/test_plans.py pins the Exchange-free
    rounds)."""

    def build() -> DataFrame:
        edges = _purchase_edges(spark, sf_dir)
        return (
            edges.select(
                F.concat(F.lit("c"), F.col("custkey")).alias("src"),
                F.concat(F.lit("s"), F.col("suppkey")).alias("dst"),
            )
            .unionByName(
                edges.select(
                    F.concat(F.lit("s"), F.col("suppkey")).alias("src"),
                    F.concat(F.lit("c"), F.col("custkey")).alias("dst"),
                )
            )
            .repartition("dst")
        )

    return shared_frame(spark, "purchase_dir_edges", sf_dir, build)


def _purchase_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct labeled node list over _purchase_dir_edges (every node
    appears as a src because edges carry both orientations). shared.py-
    cached: pagerank, PPR, and LPA each need it as the left spine of
    every iteration's outer join."""

    def build() -> DataFrame:
        return (
            _purchase_dir_edges(spark, sf_dir)
            .select(F.col("src").alias("node"))
            .distinct()
        )

    return shared_frame(spark, "purchase_nodes", sf_dir, build)


def _purchase_out_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree per labeled node over _purchase_dir_edges — the |V|-row
    divisor frame both PageRank variants join per round. shared.py-cached
    for the same reason as the edge list (one hash agg instead of two)."""

    def build() -> DataFrame:
        return (
            _purchase_dir_edges(spark, sf_dir)
            .groupBy("src")
            .agg(F.count("*").alias("out_deg"))
        )

    return shared_frame(spark, "purchase_out_deg", sf_dir, build)


def _purchase_contrib_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges with the src's out-degree attached — the rank-independent
    part of every PageRank round. shared.py-cached so the edges⋈degree
    broadcast join runs ONCE per (session, sf_dir) instead of once per
    iteration per variant (2 variants × 3 rounds = 6 rebuilds before)."""

    def build() -> DataFrame:
        return _purchase_dir_edges(spark, sf_dir).join(
            F.broadcast(_purchase_out_deg(spark, sf_dir)), "src"
        )

    return shared_frame(spark, "purchase_contrib_edges", sf_dir, build)


@query(
    "graph_pagerank_purchases",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), nodes AS (
        SELECT 'c' || custkey AS node FROM (SELECT DISTINCT custkey FROM edges)
        UNION ALL
        SELECT 's' || suppkey AS node FROM (SELECT DISTINCT suppkey FROM edges)
    ), dir_edges AS (
        SELECT 'c' || custkey AS src, 's' || suppkey AS dst FROM edges
        UNION ALL
        SELECT 's' || suppkey AS src, 'c' || custkey AS dst FROM edges
    ), deg AS (
        SELECT src, COUNT(*) AS out_deg FROM dir_edges GROUP BY src
    ), meta AS (
        SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
        SELECT node, {_PR_SCALE} // (SELECT n FROM meta) AS rank_u FROM nodes
    ), r1 AS (
        SELECT n.node,
               (({_PR_D_DEN} - {_PR_D_NUM}) * {_PR_SCALE}) // ({_PR_D_DEN} * (SELECT n FROM meta))
               + ({_PR_D_NUM} * COALESCE(SUM(r.rank_u // d.out_deg), 0)) // {_PR_D_DEN}
                 AS rank_u
        FROM nodes n
        LEFT JOIN dir_edges e ON e.dst = n.node
        LEFT JOIN r0 r ON r.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node
    ), r2 AS (
        SELECT n.node,
               (({_PR_D_DEN} - {_PR_D_NUM}) * {_PR_SCALE}) // ({_PR_D_DEN} * (SELECT n FROM meta))
               + ({_PR_D_NUM} * COALESCE(SUM(r.rank_u // d.out_deg), 0)) // {_PR_D_DEN}
                 AS rank_u
        FROM nodes n
        LEFT JOIN dir_edges e ON e.dst = n.node
        LEFT JOIN r1 r ON r.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node
    ), r3 AS (
        SELECT n.node,
               (({_PR_D_DEN} - {_PR_D_NUM}) * {_PR_SCALE}) // ({_PR_D_DEN} * (SELECT n FROM meta))
               + ({_PR_D_NUM} * COALESCE(SUM(r.rank_u // d.out_deg), 0)) // {_PR_D_DEN}
                 AS rank_u
        FROM nodes n
        LEFT JOIN dir_edges e ON e.dst = n.node
        LEFT JOIN r2 r ON r.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node
    )
    SELECT node, CAST(rank_u AS BIGINT) AS rank_u FROM r3
    WHERE node LIKE 's%'
    ORDER BY rank_u DESC, node
    LIMIT 25
    """,
)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier purchase graph,
    {_PR_ITERS} fixed iterations, damping 85/100 — 'which suppliers sit at
    the center of the purchase network' (the same authority signal a
    crawler uses for domains). Returns the top-25 suppliers by rank.

    Scale shape: the edge list shuffles ONCE on dst and is reused every
    iteration (same partitioning, Catalyst reuses the exchange plan shape);
    per-iteration work is |E| join + hash-agg, the canonical distributed
    PageRank round. Node count and out-degrees are dimension-sized frames.

    Determinism: rank mass is {_PR_SCALE} integer units; per-edge
    contribution is integer FLOOR division by out-degree, the damping mix
    is exact integer arithmetic — every iteration is bit-identical across
    engines and partition orders (see module docstring). The tiny mass
    lost to FLOOR each round (< 1 unit/node) is the documented price of
    order-independence.
    """
    # shared, lineage-truncated edge/degree frames (round-9: the three
    # iterative consumers — pagerank, PPR, LPA — build these ONCE)
    nodes = _purchase_nodes(spark, sf_dir)
    n_nodes = nodes.count()  # scalar graph metadata (bounded collect)
    base_u = ((_PR_D_DEN - _PR_D_NUM) * _PR_SCALE) // (_PR_D_DEN * n_nodes)

    ranks = nodes.withColumn("rank_u", F.lit(_PR_SCALE // n_nodes))
    contrib_edges = _purchase_contrib_edges(spark, sf_dir)
    for _ in range(_PR_ITERS):
        # Rank state is |V| rows — dimension-scale for this bipartite
        # graph (customers + suppliers), vs the fact-scale edge list.
        # Broadcasting it replaces a per-iteration SortMergeJoin pair
        # (Exchange+Sort on BOTH sides, 3 exchanges/round measured in
        # plans/r12/graph_pagerank_purchases_before.txt) with a
        # BroadcastHashJoin: the edge list is never shuffled, and the
        # only remaining exchange per round is the unavoidable |E|→|V|
        # contribution aggregate (guide §2.4/§3.1).
        contrib = (
            contrib_edges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_u DIV out_deg").alias("c_u"),
            )
            .groupBy("node")
            .agg(F.sum("c_u").alias("in_u"))
        )
        ranks = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.lit(base_u)
                + F.expr(
                    f"({_PR_D_NUM} * coalesce(in_u, 0L)) DIV {_PR_D_DEN}"
                )
            ).alias("rank_u"),
        )
    return (
        ranks.filter(F.col("node").startswith("s"))
        .orderBy(F.col("rank_u").desc(), "node")
        .limit(25)
    )


def _cosupply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significance-thresholded, oriented (u < v) supplier co-supply edge
    list — the shared front of the triangle census and its round-9
    self-consistency twin. See graph_triangle_count's docstring for the
    edge rule (shared > μ + 2σ in exact integer arithmetic) and the
    super-node bound. shared_frame-cached (round-9 tail work): the
    lineitem→baskets→pairs pipeline runs ONCE per (session, sf_dir) and
    both triangle consumers — plus any same-session re-run (bench,
    correctness loop) — reuse the persisted edge list, the same
    accounting that paid off for the minhash→CC chain (r8) and the
    purchase-graph frames (r9 wave 1)."""

    def build() -> DataFrame:
        return _cosupply_pairs_build(spark, sf_dir)

    return shared_frame(spark, "cosupply_pairs", sf_dir, build)


def _cosupply_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE fact-scale exchange (groupBy partkey with a map-side partial
    # collect_set that also dedups the raw lines) replaces the old
    # distinct → degree-count → equi-self-join chain, which paid three
    # fact-scale exchanges for the same pair list (guide §2.4). Each
    # part's supplier set is sorted once and its ordered pairs (u < v)
    # are exploded inline — Σ min(deg, {_TRI_MAX_BASKET})² pair work,
    # identical to the self-join's a.suppkey < b.suppkey output because
    # the per-part supplier sets are exactly the old distinct rows.
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .groupBy("partkey")
        .agg(F.sort_array(F.collect_set("suppkey")).alias("supps"))
        .filter(F.size("supps") <= _TRI_MAX_BASKET)
    )
    # the aggregated pair list feeds TWO consumers (the μ+2σ stats agg
    # and the significance filter) — persist it so the explode pipeline
    # runs once, not per consumer
    pairs = transient_persist(
        explode_ordered_pairs(baskets, "supps")
        .groupBy("u", "v")
        .agg(F.count("*").alias("shared"))
    )
    stats = pairs.agg(
        F.count("*").alias("n"),
        F.sum("shared").alias("s1"),
        F.sum(F.col("shared") * F.col("shared")).alias("s2"),
    )
    lift = F.col("n") * F.col("shared") - F.col("s1")
    pairs = (
        pairs.crossJoin(F.broadcast(stats))
        .filter(
            (lift > 0)
            & (lift * lift > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
        )
        .select("u", "v")
    )
    return pairs


@query(
    "graph_triangle_count_cosupply",
    oracle=f"""
    WITH baskets AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
        GROUP BY 1, 2
    ), sized AS (
        SELECT partkey FROM baskets
        GROUP BY partkey HAVING COUNT(*) <= {_TRI_MAX_BASKET}
    ), kept AS (
        SELECT b.partkey, b.suppkey FROM baskets b JOIN sized s USING (partkey)
    ), allp AS (
        SELECT a.suppkey AS u, b.suppkey AS v, COUNT(*) AS shared
        FROM kept a JOIN kept b
          ON a.partkey = b.partkey AND a.suppkey < b.suppkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT COUNT(*) AS n, SUM(shared) AS s1, SUM(shared * shared) AS s2
        FROM allp
    ), pairs AS (
        SELECT u, v FROM allp, stats
        WHERE (n * shared - s1) > 0
          AND (n * shared - s1) * (n * shared - s1) > 4 * (n * s2 - s1 * s1)
    ), tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ), per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY node
    )
    SELECT (SELECT COUNT(*) FROM tri)   AS total_triangles,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT MAX(n_triangles) FROM per_node) AS max_per_node,
           (SELECT COUNT(*) FROM per_node)         AS n_nodes_in_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-supply graph (edge = two
    suppliers whose shared-part count is significantly above chance,
    shared > μ + 2σ of the all-pairs distribution): total triangles, edge
    count, and the most clustered node — the clustering signal behind
    community detection and fraud-ring screens.

    Scale shape, in order of what kills naive versions:
    1. the EDGE RULE: a fixed support threshold degenerates — expected
       co-occurrence scales with |parts|·deg²/|V|², so the same constant
       gives a complete graph at one scale (measured: 96 s wedge join on
       the resulting 500 k-edge clique at sf0.1) and an empty one at
       another. The significance rule shared > μ + 2σ keeps only
       above-chance edges at EVERY scale, and is evaluated in exact
       integer arithmetic ((n·shared − S₁)² > 4(n·S₂ − S₁²)) so no float
       boundary can flip an edge between engines;
    1b. super-node removal BEFORE pair generation: parts with more than
       {_TRI_MAX_BASKET} suppliers are dropped, so candidate pairs are
       Σ min(deg, {_TRI_MAX_BASKET})² — a hub part cannot square the
       pipeline;
    2. edges are ORIENTED (u < v) at creation, so each triangle is counted
       exactly once by the edge-edge-closure join, no ÷6 correction and no
       symmetric blow-up;
    3. the closure is two hash joins over the (already small) edge list —
       the standard distributed triangle algorithm. All counts are
       integers; nothing crosses a float boundary."""
    pairs = _cosupply_pairs(spark, sf_dir)
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri = transient_persist(tri)
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    totals = tri.agg(F.count("*").alias("total_triangles"))
    edge_n = pairs.agg(F.count("*").alias("n_edges"))
    node_stats = per_node.agg(
        F.max("n_triangles").alias("max_per_node"),
        F.count("*").alias("n_nodes_in_triangles"),
    )
    return (
        totals.crossJoin(F.broadcast(edge_n))
        .crossJoin(F.broadcast(node_stats))
        .select(
            "total_triangles", "n_edges", "max_per_node", "n_nodes_in_triangles"
        )
    )


# shared CTE prefix for the self-check oracle: identical edge derivation
# to graph_triangle_count_cosupply's oracle (kept textually in sync by
# tests/test_graph_wave3.py's small-SF cross-check)
_COSUPPLY_PAIRS_SQL = f"""
    WITH baskets AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
        GROUP BY 1, 2
    ), sized AS (
        SELECT partkey FROM baskets
        GROUP BY partkey HAVING COUNT(*) <= {_TRI_MAX_BASKET}
    ), kept AS (
        SELECT b.partkey, b.suppkey FROM baskets b JOIN sized s USING (partkey)
    ), allp AS (
        SELECT a.suppkey AS u, b.suppkey AS v, COUNT(*) AS shared
        FROM kept a JOIN kept b
          ON a.partkey = b.partkey AND a.suppkey < b.suppkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT COUNT(*) AS n, SUM(shared) AS s1, SUM(shared * shared) AS s2
        FROM allp
    ), pairs AS (
        SELECT u, v FROM allp, stats
        WHERE (n * shared - s1) > 0
          AND (n * shared - s1) * (n * shared - s1) > 4 * (n * s2 - s1 * s1)
    )"""


@query(
    "graph_triangle_census_selfcheck",
    oracle=f"""{_COSUPPLY_PAIRS_SQL}, tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ), deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
               CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst
        FROM pairs p
        JOIN deg du ON du.node = p.u
        JOIN deg dv ON dv.node = p.v
    ), closed AS (
        SELECT 1 AS one
        FROM oriented o1
        JOIN oriented o2 ON o1.src = o2.src AND o1.dst < o2.dst
        JOIN pairs p ON p.u = LEAST(o1.dst, o2.dst) AND p.v = GREATEST(o1.dst, o2.dst)
    )
    SELECT (SELECT COUNT(*) FROM tri)    AS total_triangles,
           (SELECT COUNT(*) FROM closed) AS total_degree_oriented,
           (SELECT COUNT(*) FROM tri) = (SELECT COUNT(*) FROM closed)
               AS totals_agree
    """,
)
def graph_triangle_census_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-internal self-consistency gate for the triangle census
    (round-9 VERDICT ask #2 — the one registry name with no sf1 oracle
    signal): the SAME significance-thresholded co-supply edge list is
    closed into triangles by two INDEPENDENT plans, and the query RAISES
    if they disagree, so a green rows-only run at any scale factor — in
    particular the sf1 canary, where the naive DuckDB oracle is
    disk-infeasible — certifies the invariant, not merely liveness.

    Plan A (id-ordered): the census's own closure — edges oriented u < v,
    two hash joins enumerate each triangle once as a < b < c.

    Plan B (degree-ordered): each undirected edge is re-oriented from its
    lower-(degree, id) endpoint to the higher; every triangle then has
    exactly ONE vertex with out-edges to the other two (its minimum under
    that total order), so counting wedges (src→b, src→c, b < c) closed by
    an original edge counts each triangle exactly once — a different
    orientation rule, a different join graph, and the standard
    wedge-bounded formulation (out-degrees under degree-ordering are
    O(√|E|)-bounded, the arboricity argument).

    The two totals are collected as scalars (bounded metadata collects),
    compared in Python — ValueError on any disagreement — and returned
    with the agreement flag; the DuckDB oracle recomputes BOTH plans at
    the gated small SFs, so cross-engine AND cross-plan agreement are
    both hash-gated where the oracle fits, and cross-plan agreement alone
    is still enforced at sf1 where it does not.

    Reference parity: none (SURVEY §2.D north-star; the sf1-blind-spot
    closure prescribed by round-8 VERDICT)."""
    pairs = _cosupply_pairs(spark, sf_dir)
    # plan A — id-ordered closure (identical joins to the census)
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    total_id = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    # plan B — degree-ordered wedge closure
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = pairs.join(du, "u").join(dv, "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = transient_persist(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("b"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("c"))
    wedges = o1.join(o2, "src").filter(F.col("b") < F.col("c"))
    total_deg = wedges.join(
        pairs,
        (F.col("u") == F.least("b", "c")) & (F.col("v") == F.greatest("b", "c")),
    ).count()
    if total_id != total_deg:
        raise ValueError(
            "triangle census self-check FAILED: id-ordered closure counted "
            f"{total_id} triangles but degree-ordered closure counted "
            f"{total_deg} in {sf_dir} — the two plans must agree exactly"
        )
    return spark.range(1).select(
        F.lit(total_id).cast("long").alias("total_triangles"),
        F.lit(total_deg).cast("long").alias("total_degree_oriented"),
        F.lit(True).alias("totals_agree"),
    )


# link prediction: drop super-node customers (distinct-supplier basket
# above this) before pair generation — same Σ deg² bound as the triangle
# census (_TRI_MAX_BASKET), applied to the customer side
_LP_MAX_BASKET = 64
_LP_TOPK = 25


@query(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), sized AS (
        SELECT custkey FROM edges
        GROUP BY custkey HAVING COUNT(*) <= {_LP_MAX_BASKET}
    ), kept AS (
        SELECT e.custkey, e.suppkey FROM edges e JOIN sized s USING (custkey)
    ), deg AS (
        SELECT suppkey, COUNT(*) AS d FROM kept GROUP BY suppkey
    ), shared AS (
        SELECT a.suppkey AS u, b.suppkey AS v, COUNT(*) AS shared
        FROM kept a JOIN kept b
          ON a.custkey = b.custkey AND a.suppkey < b.suppkey
        GROUP BY 1, 2
    ), scored AS (
        SELECT s.u, s.v, s.shared,
               du.d AS deg_u, dv.d AS deg_v,
               (10000 * s.shared) // (du.d + dv.d - s.shared) AS jacc4
        FROM shared s
        JOIN deg du ON du.suppkey = s.u
        JOIN deg dv ON dv.suppkey = s.v
    )
    SELECT u, v, shared, deg_u, deg_v, jacc4
    FROM scored
    ORDER BY jacc4 DESC, shared DESC, u, v
    LIMIT {_LP_TOPK}
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap link prediction on the supplier projection of the
    customer↔supplier purchase graph: score each co-purchased supplier
    pair by the Jaccard similarity of their customer neighborhoods,
    |N(u)∩N(v)| / |N(u)∪N(v)| — the classic link-prediction /
    entity-affinity baseline (Liben-Nowell & Kleinberg). Returns the
    top-{_LP_TOPK} most-overlapping pairs.

    Scale shape: candidate pairs are generated ONLY through shared
    customers (each customer's sorted supplier set exploded into its
    ordered pairs), never suppliers × suppliers, and super-node customers
    above {_LP_MAX_BASKET} distinct suppliers are dropped first — so pair
    work is Σ min(deg, {_LP_MAX_BASKET})² and a hub cannot square the
    pipeline. Degrees are a dimension-sized frame joined back onto the
    (already aggregated) pair list.

    Determinism: the score is the integer (10000·shared) FLOOR-div
    (deg_u + deg_v − shared) — no float crosses the ranking, so the
    top-{_LP_TOPK} cut is bit-identical across engines and partition
    orders (ties broken by shared, then u, v)."""
    # ONE exchange on custkey (groupBy + collect_set over the already
    # shared-cached edge list) replaces the old degree-count → join →
    # equi-self-join chain: each customer's sorted supplier set both
    # enforces the basket cap (size(supps)) and enumerates the pair
    # candidates inline via explode_ordered_pairs — no second fact-scale
    # exchange, no join (guide §2.4). The basket frame feeds TWO
    # consumers (degrees + pairs) — persist it, the old `kept` role.
    edges = _purchase_edges(spark, sf_dir)  # shared-cached
    baskets = transient_persist(
        edges.groupBy("custkey")
        .agg(F.sort_array(F.collect_set("suppkey")).alias("supps"))
        .filter(F.size("supps") <= _LP_MAX_BASKET)
    )
    deg = (
        baskets.select(F.explode("supps").alias("suppkey"))
        .groupBy("suppkey")
        .agg(F.count("*").alias("d"))
    )
    shared = (
        explode_ordered_pairs(baskets, "supps")
        .groupBy("u", "v")
        .agg(F.count("*").alias("shared"))
    )
    du = deg.select(F.col("suppkey").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("suppkey").alias("v"), F.col("d").alias("deg_v"))
    return (
        shared.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "shared",
            "deg_u",
            "deg_v",
            F.expr("(10000 * shared) DIV (deg_u + deg_v - shared)").alias("jacc4"),
        )
        .orderBy(F.col("jacc4").desc(), F.col("shared").desc(), "u", "v")
        .limit(_LP_TOPK)
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), degs AS (
        SELECT 'customer' AS side, custkey AS node, COUNT(*) AS deg
        FROM edges GROUP BY custkey
        UNION ALL
        SELECT 'supplier' AS side, suppkey AS node, COUNT(*) AS deg
        FROM edges GROUP BY suppkey
    )
    SELECT side,
           CAST(LENGTH(bin(deg)) AS BIGINT) AS bin_id,
           CAST(1 << (LENGTH(bin(deg)) - 1) AS BIGINT) AS deg_lo,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg) AS BIGINT) AS total_degree
    FROM degs
    GROUP BY 1, 2, 3
    ORDER BY side, bin_id
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree histogram of both sides of the purchase graph —
    the first-look health audit for any graph workload (heavy-tail check,
    super-node detection, the evidence behind basket caps like
    _TRI_MAX_BASKET / _LP_MAX_BASKET).

    The bin is length(bin(deg)) — the deg's binary digit count, i.e.
    ⌊log₂ deg⌋+1 computed by string length rather than a float log2 whose
    boundary values could round differently across engines. Output is
    O(log max_deg) rows per side regardless of graph size; the work is two
    hash aggregates over the (deduplicated) edge list."""
    edges = _purchase_edges(spark, sf_dir)
    degs = (
        edges.groupBy(F.col("custkey").alias("node"))
        .agg(F.count("*").alias("deg"))
        .select(F.lit("customer").alias("side"), "deg")
        .unionByName(
            edges.groupBy(F.col("suppkey").alias("node"))
            .agg(F.count("*").alias("deg"))
            .select(F.lit("supplier").alias("side"), "deg")
        )
    )
    binned = degs.select(
        "side",
        F.length(F.bin("deg")).cast("long").alias("bin_id"),
        F.col("deg"),
    )
    return (
        binned.groupBy("side", "bin_id")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("deg").alias("total_degree"),
        )
        .select(
            "side",
            "bin_id",
            F.expr("cast(shiftleft(1L, cast(bin_id - 1 as int)) as long)").alias("deg_lo"),
            "n_nodes",
            "total_degree",
        )
        .orderBy("side", "bin_id")
    )



# ---------------------------------------------------------------------------
# graph_core_peel_quantile — iterative dense-core extraction (onion peeling)
# ---------------------------------------------------------------------------

# Each peel round recomputes BOTH sides' degree distributions over the
# SURVIVING edge set and drops every node below its side's CURRENT 20th-
# percentile degree (exact integer compare 10*cum >= 2*tot — no float
# percentile). Re-deriving the threshold per round is what makes the peel
# scale-invariant AND total-collapse-proof: a fixed k never peels this
# dense bipartite graph at any tested scale (every node clears any small
# constant — the same degeneracy as fixed-support triangle edges, see the
# _TRI note), while a fixed INITIAL-percentile anchor annihilates it by
# round 2 (removing p% of customers scales every supplier degree down by
# ~p%, pushing the whole tightly-concentrated supplier side under its
# original percentile). The per-round quantile always erodes and can
# never empty a side: the threshold is itself one of the surviving
# degrees, so nodes AT the threshold survive by construction.
_PEEL_PCT_NUM, _PEEL_PCT_DEN = 2, 10   # 20th percentile, exact rational
_PEEL_ROUNDS = 3


def _peel_oracle() -> str:
    pn, pd = _PEEL_PCT_NUM, _PEEL_PCT_DEN
    rounds = []
    prev = "e0"
    for r in range(1, _PEEL_ROUNDS + 1):
        rounds.append(f"""
    cdeg{r} AS (SELECT custkey, COUNT(*) AS d FROM {prev} GROUP BY custkey),
    sdeg{r} AS (SELECT suppkey, COUNT(*) AS d FROM {prev} GROUP BY suppkey),
    ccum{r} AS (
        SELECT d, SUM(COUNT(*)) OVER (ORDER BY d) AS cum,
               SUM(COUNT(*)) OVER () AS tot
        FROM cdeg{r} GROUP BY d
    ), scum{r} AS (
        SELECT d, SUM(COUNT(*)) OVER (ORDER BY d) AS cum,
               SUM(COUNT(*)) OVER () AS tot
        FROM sdeg{r} GROUP BY d
    ), kc{r} AS MATERIALIZED (
        SELECT MIN(d) AS k FROM ccum{r} WHERE {pd} * cum >= {pn} * tot
    ), ks{r} AS MATERIALIZED (
        SELECT MIN(d) AS k FROM scum{r} WHERE {pd} * cum >= {pn} * tot
    ),
    ac{r} AS MATERIALIZED (
        SELECT custkey FROM cdeg{r} WHERE d >= (SELECT k FROM kc{r})
    ),
    asup{r} AS MATERIALIZED (
        SELECT suppkey FROM sdeg{r} WHERE d >= (SELECT k FROM ks{r})
    ),
    e{r} AS MATERIALIZED (
        SELECT e.custkey, e.suppkey FROM {prev} e
        JOIN ac{r} USING (custkey) JOIN asup{r} USING (suppkey)
    ),
    stat{r} AS (
        SELECT {r} AS peel_round,
               (SELECT CAST(k AS BIGINT) FROM kc{r})          AS k_cust,
               (SELECT CAST(k AS BIGINT) FROM ks{r})          AS k_supp,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ac{r})   AS n_cust_alive,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM asup{r}) AS n_supp_alive,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r})    AS n_edges_alive
    )""")
        prev = f"e{r}"
    selects = "\n    UNION ALL ".join(
        f"SELECT * FROM stat{r}" for r in range(1, _PEEL_ROUNDS + 1)
    )
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),{",".join(rounds)}
    {selects}
    ORDER BY peel_round
    """


def _peel_degrees(e: DataFrame) -> DataFrame:
    """BOTH sides' degree tables in ONE pass over the surviving edge set
    (r13: was two separate groupBy jobs, i.e. two full scans of the edge
    frame per peel round): each edge contributes a ('c', custkey) and an
    ('s', suppkey) row; the hash aggregate's map-side partial collapses
    the 2|E| exploded rows to |V|-scale before the exchange."""
    return (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("c").alias("side"), F.col("custkey").alias("key")
                    ),
                    F.struct(
                        F.lit("s").alias("side"), F.col("suppkey").alias("key")
                    ),
                )
            ).alias("sk")
        )
        .groupBy(F.col("sk.side").alias("side"), F.col("sk.key").alias("key"))
        .agg(F.count("*").alias("d"))
    )


def _degree_thresholds(deg: DataFrame) -> dict[str, int]:
    """Exact integer percentile threshold per side over the combined
    degree table: the smallest degree d with cum_count(<=d) clearing the
    percentile — derived from degree COUNTS (|distinct degrees| rows per
    side, so the per-side window sees hundreds of rows, never nodes) and
    collected as ONE bounded 2-row job (r13: was two separate collect
    jobs per round). An empty edge set yields an empty dict — the caller
    degrades to the oracle's NULL-threshold / 0-alive rows instead of
    raising (round-12 ADVICE)."""
    dist = deg.groupBy("side", "d").agg(F.count("*").alias("n"))
    wcum = (
        Window.partitionBy("side")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("side")
    rows = (
        dist.select(
            "side",
            "d",
            F.sum("n").over(wcum).alias("cum"),
            F.sum("n").over(wall).alias("tot"),
        )
        .filter(
            F.lit(_PEEL_PCT_DEN) * F.col("cum")
            >= F.lit(_PEEL_PCT_NUM) * F.col("tot")
        )
        .groupBy("side")
        .agg(F.min("d").alias("k"))
        .collect()
    )
    return {r["side"]: int(r["k"]) for r in rows}


@query("graph_core_peel_quantile", oracle=_peel_oracle())
def graph_core_peel_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction by iterative quantile peeling ("onion
    peeling"), the third iterative graph primitive (after PageRank's
    fixed-iteration power method and the connected-components pointer-
    jumping loop, curation.py) and the degree-based cousin of k-core:
    each round drops every node below its side's CURRENT 20th-percentile
    degree, recomputed over the surviving edge set — so a drop erodes its
    neighbors' degrees and the next round peels deeper, the cascade a
    one-shot degree filter cannot express (and the reason classic fixed-k
    k-core degenerates on this graph — see the constants note). Returns
    the per-round erosion audit: both thresholds and alive customers /
    suppliers / edges — the hub-persistence signal behind influence cores
    and super-node caps.

    Scale shape: thresholds come from degree-COUNT tables (|distinct
    degrees| rows); each peel round is two hash-agg degree counts + two
    broadcast threshold joins + two semi joins keyed on the edge's own
    columns (no pairwise expansion anywhere); the surviving edge frame is
    localCheckpointed per round so round r+1's lineage does not re-derive
    rounds 1..r (the connected-components discipline). Work per round is
    O(|edges alive|) and the edge set only shrinks. Peel depth is a
    documented bound, not a fixpoint — at 100 TB you run rounds until the
    erosion audit plateaus."""
    # the shared edge frame is already persisted (constant-depth lineage
    # via its own build); an extra localCheckpoint here would re-copy all
    # |E| blocks for nothing — rounds persist their own outputs
    e = _purchase_edges(spark, sf_dir)
    out = None
    for r in range(1, _PEEL_ROUNDS + 1):
        # r13 shape: ONE eager job per round (was three — kc collect, ks
        # collect, localCheckpoint copy, each scanning the surviving edge
        # set once). The combined degree table feeds THREE consumers (the
        # threshold collect, the alive filters, the alive counts) — one
        # persisted frame, materialized by the threshold collect; the
        # surviving edge frame keeps the LAZY localCheckpoint below, so
        # its blocks fill inside the NEXT round's threshold job (or the
        # final output job for the last round) rather than paying a
        # dedicated eager block-copy job, while the logical plan is
        # still truncated to a LogicalRDD per round (a lazy persist here
        # instead nests each round's full lineage twice per successor —
        # measured as a ~5000-Exchange explain and growing per-round
        # planning cost).
        deg = transient_persist(_peel_degrees(e))
        # Exact integer percentile thresholds as one bounded 2-row
        # metadata collect (the n_nodes.count() pattern): the threshold
        # table is |distinct degrees| rows per side at any scale.
        # Inlining the scalars keeps the per-round single-partition
        # window machinery out of the edge-filter plan (r12 measurement).
        ks = _degree_thresholds(deg)
        kc_v, ks_v = ks.get("c"), ks.get("s")
        # degenerate input (empty surviving edge set): thresholds are
        # undefined — degrade exactly like the oracle's NULL-threshold
        # CTEs (k NULL, 0 alive on every later round) instead of raising
        # on the missing side (round-12 ADVICE)
        alive_c = deg.filter(
            (F.col("side") == "c") & (F.col("d") >= (kc_v if kc_v is not None else 0))
        ).select(F.col("key").alias("custkey"))
        alive_s = deg.filter(
            (F.col("side") == "s") & (F.col("d") >= (ks_v if ks_v is not None else 0))
        ).select(F.col("key").alias("suppkey"))
        # alive counts come from the degree filter itself (a passing node
        # can still lose all its edges this round — it stays "alive" until
        # the NEXT round's degree recount drops it, same as the oracle).
        # alive sets are |V|-bounded (dimension-scale) — broadcast the
        # semi-joins so the surviving edge list is never shuffled.
        e = (
            e.join(F.broadcast(alive_c), "custkey", "left_semi")
            .join(F.broadcast(alive_s), "suppkey", "left_semi")
            .select("custkey", "suppkey")
            .localCheckpoint(eager=False)
        )
        row = (
            e.agg(F.count("*").cast("long").alias("n_edges_alive"))
            .crossJoin(
                alive_c.agg(F.count("*").cast("long").alias("n_cust_alive"))
            )
            .crossJoin(
                alive_s.agg(F.count("*").cast("long").alias("n_supp_alive"))
            )
            .select(
                F.lit(r).alias("peel_round"),
                F.lit(kc_v).cast("long").alias("k_cust"),
                F.lit(ks_v).cast("long").alias("k_supp"),
                "n_cust_alive",
                "n_supp_alive",
                "n_edges_alive",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("peel_round")


# ---------------------------------------------------------------------------
# graph_label_propagation_communities — deterministic synchronous LPA
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round as a DuckDB CTE pair: neighbor-label
    counts, then the deterministic argmax (max count, then min label)."""
    return f"""{out}_cnt AS (
        SELECT e.dst AS node, p.label, COUNT(*) AS cnt
        FROM dir_edges e JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst, p.label
    ), {out} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label) AS rn
            FROM {out}_cnt
        ) WHERE rn = 1
    )"""


@query(
    "graph_label_propagation_communities",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), dir_edges AS (
        SELECT 'c' || custkey AS src, 's' || suppkey AS dst FROM edges
        UNION ALL
        SELECT 's' || suppkey AS src, 'c' || custkey AS dst FROM edges
    ), l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM dir_edges
    ), {_lpa_round_sql("l0", "l1")}, {_lpa_round_sql("l1", "l2")},
       {_lpa_round_sql("l2", "l3")}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l3
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT 20
    """,
)
def graph_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) over the
    bipartite purchase graph: every node starts as its own label; each
    round it adopts the most frequent label among its neighbors, ties
    broken by the lexicographically smallest label — the determinism
    tweak that makes textbook LPA (random tie-breaks, async order) safe
    to gate across engines and partition orders. {_LPA_ROUNDS} fixed
    synchronous rounds, then the 20 largest communities.

    Unlike connected components (curation.py, pointer jumping), LPA
    yields DENSITY-driven clusters: a bridge edge between two dense
    groups does not merge them, because frequency voting at the bridge
    node is dominated by its own side.

    Scale shape: each round is one |E| hash join (edges against the
    |V|-row label frame, broadcast every round) plus two hash-aggs
    (neighbor-label counts, then the per-node argmax as a min_by over
    the (-cnt, label) struct — a partial+final aggregate, no per-node
    sort window). With the shared edge list pre-partitioned on dst
    (r13), neither aggregate shuffles: every round is map-side work
    over the cached edge partitions, one lazy plan materialized by the
    single final action. Per-round state is |V| rows regardless of |E|
    — the property that lets LPA run where modularity solvers can't."""
    dir_edges = _purchase_dir_edges(spark, sf_dir)  # shared, persisted on dst
    labels = _purchase_nodes(spark, sf_dir).select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        # label state is |V| rows (dimension-scale) — broadcast it so the
        # persisted edge list is never shuffled per round; it is
        # partitioned on dst, so the (dst, label) count plans no exchange
        counts = (
            dir_edges.join(
                F.broadcast(labels.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax(cnt desc, label asc) as ONE hash aggregate: min over the
        # (-cnt, label) struct — no per-node sort window, so the
        # per-round cut is partial+final agg instead of an extra
        # shuffle+sort (the struct order is total: counts are ints,
        # labels unique per (node, label) row)
        # r13: the label frame stays LAZY (the graph_pagerank_purchases
        # discipline) — each round's |V|-row state is materialized by the
        # NEXT round's broadcast build inside the single final action,
        # instead of paying a dedicated eager localCheckpoint job per
        # round. Lineage grows linearly (one reference per round), and
        # with dir_edges pre-partitioned on dst neither aggregate below
        # plans an Exchange.
        labels = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph_personalized_pagerank — PPR from a deterministic seed set
# ---------------------------------------------------------------------------

_PPR_SEED_MOD = 100  # seed customers: custkey % 100 == 0


def _ppr_round_sql(prev: str) -> str:
    """One PPR round as a DuckDB CTE body: teleport mass goes ONLY to
    seeds; propagation term identical to global PageRank."""
    return f"""
        SELECT n.node,
               (CASE WHEN n.is_seed THEN
                    (({_PR_D_DEN} - {_PR_D_NUM}) * {_PR_SCALE})
                        // ({_PR_D_DEN} * (SELECT NULLIF(ns, 0) FROM meta))
                ELSE 0 END)
               + ({_PR_D_NUM} * COALESCE(SUM(r.rank_u // d.out_deg), 0)) // {_PR_D_DEN}
                 AS rank_u
        FROM nodes n
        LEFT JOIN dir_edges e ON e.dst = n.node
        LEFT JOIN {prev} r ON r.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node, n.is_seed
    """


@query(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), nodes AS (
        SELECT 'c' || custkey AS node, custkey % {_PPR_SEED_MOD} = 0 AS is_seed
        FROM (SELECT DISTINCT custkey FROM edges)
        UNION ALL
        SELECT 's' || suppkey AS node, FALSE AS is_seed
        FROM (SELECT DISTINCT suppkey FROM edges)
    ), dir_edges AS (
        SELECT 'c' || custkey AS src, 's' || suppkey AS dst FROM edges
        UNION ALL
        SELECT 's' || suppkey AS src, 'c' || custkey AS dst FROM edges
    ), deg AS (
        SELECT src, COUNT(*) AS out_deg FROM dir_edges GROUP BY src
    ), meta AS (
        SELECT COUNT(*) FILTER (WHERE is_seed) AS ns FROM nodes
    ), r0 AS (
        SELECT node, CASE WHEN is_seed
                          THEN {_PR_SCALE} // (SELECT NULLIF(ns, 0) FROM meta)
                          ELSE 0 END AS rank_u
        FROM nodes
    ), r1 AS ({_ppr_round_sql("r0")}
    ), r2 AS ({_ppr_round_sql("r1")}
    ), r3 AS ({_ppr_round_sql("r2")}
    )
    SELECT node, CAST(rank_u AS BIGINT) AS rank_u FROM r3
    WHERE node LIKE 's%'
    ORDER BY rank_u DESC, node
    LIMIT 25
    """,
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: random-walk-with-restart where the teleport
    mass returns ONLY to a seed set (customers with custkey %
    {_PPR_SEED_MOD} == 0) instead of uniformly to all nodes — 'which
    suppliers matter *to this cohort*', the recommendation/trust primitive
    global PageRank cannot express (its answer is cohort-independent).
    {_PR_ITERS} fixed rounds, damping 85/100, top-25 suppliers.

    Scale shape: identical to graph_pagerank_purchases — the shared
    purchase edge list is persisted once, hash-partitioned on dst and
    AQE-sized by shared._persist, so every round is one |E| broadcast
    join + hash agg with no exchange; the ONLY difference is
    the teleport term, a row-local CASE on a precomputed is_seed flag.
    The seed set is a predicate, never a driver-collected list, so
    personalization costs nothing extra at 100 TB.

    Determinism: same integer rank units + FLOOR-div contributions as
    global PageRank — bit-identical across engines and partition orders.

    Reference parity: none (connector has no graph surface); SURVEY §2.D
    north-star extension alongside graph_pagerank_purchases."""
    nodes = _purchase_nodes(spark, sf_dir).select(
        "node",
        (
            F.col("node").startswith("c")
            & (F.expr("CAST(substring(node, 2) AS BIGINT)") % _PPR_SEED_MOD == 0)
        ).alias("is_seed"),
    )
    n_seeds = nodes.filter("is_seed").count()  # scalar metadata collect
    if n_seeds == 0:
        # round-9 ADVICE guard: on datasets with < _PPR_SEED_MOD customers
        # the predicate can select nothing — fail with the actual cause
        # instead of a bare ZeroDivisionError two lines down (the oracle
        # mirrors this with NULLIF(ns, 0): NULL ranks, never a crash)
        raise ValueError(
            "graph_personalized_pagerank: seed predicate custkey % "
            f"{_PPR_SEED_MOD} == 0 selected no customers in {sf_dir}; "
            "personalization needs a non-empty seed set"
        )
    seed_base = ((_PR_D_DEN - _PR_D_NUM) * _PR_SCALE) // (_PR_D_DEN * n_seeds)

    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(_PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .alias("rank_u"),
    )
    # same broadcast shape as graph_pagerank_purchases: rank state is
    # |V| (dimension-scale) — broadcasting it removes the per-round
    # SortMergeJoin exchanges; only the |E|→|V| aggregate shuffles
    contrib_edges = _purchase_contrib_edges(spark, sf_dir)
    for _ in range(_PR_ITERS):
        contrib = (
            contrib_edges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_u DIV out_deg").alias("c_u"),
            )
            .groupBy("node")
            .agg(F.sum("c_u").alias("in_u"))
        )
        ranks = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.when(F.col("is_seed"), F.lit(seed_base)).otherwise(F.lit(0))
                + F.expr(f"({_PR_D_NUM} * coalesce(in_u, 0L)) DIV {_PR_D_DEN}")
            ).alias("rank_u"),
        )
    return (
        ranks.filter(F.col("node").startswith("s"))
        .orderBy(F.col("rank_u").desc(), "node")
        .limit(25)
    )
