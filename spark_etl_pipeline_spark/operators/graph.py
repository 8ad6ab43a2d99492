"""Graph analytics beyond connected components (which live with their
consumer in ``operators/dedup.py``): exact-integer PageRank,
degree-oriented triangle counting (edge-iterator form), the global
clustering coefficient, and bounded-round k-core peeling — all over
graphs derived in-plan from the TPC-H fact tables, all oracle-backed.

PageRank here is EXACT-INTEGER: ranks are scaled bigints, each
iteration is ``reset + (85 · Σ (rank div degree)) div 100`` — integer
division and associative integer sums only, so the fixpoint is
bit-identical on any engine, any partitioning, any cluster size, and
the oracle can hash-compare it with zero float tolerance. (Float
PageRank sums neighbor contributions in partition order — the classic
irreproducible aggregate.) The integer formula IS the spec, not an
approximation of a float one: remainders lost to ``div`` are part of
the defined semantics.

Scale: each iteration is one edge-table join + one hash aggregate —
the standard message-passing shape. Edges shuffle on src (contribution
lookup) then dst (sum); the degree and rank tables are node-sized. The
shared round loop (``operators.rounds``) checkpoints the rank table
between iterations, so lineage depth stays one round.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_etl_pipeline_spark import operators
from spark_etl_pipeline_spark.operators import broadcast_if_fits, rounds
from spark_etl_pipeline_spark.plans.registry import register, table

#: Rank scale (1.0 == RANK_SCALE). 1e9 leaves 85·in_degree·SCALE
#: < 2^63 headroom for in-degrees up to ~1e8 — any realistic graph.
RANK_SCALE = 1_000_000_000
PR_ITERS = 3
PR_TOP_K = 20

_RESET = (15 * RANK_SCALE) // 100  # (1-d) · scale with d = 0.85


def _pr_iteration_sql(k: int) -> str:
    prev = f"it{k - 1}"
    return f"""
    it{k} AS (
        SELECT e.dst AS node,
               {_RESET} + (85 * SUM(p.r // d.deg)) // 100 AS r
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
    )"""


_PAGERANK_ORACLE = f"""
    WITH pairs AS (
        SELECT DISTINCT l_partkey * 2 AS pnode, l_suppkey * 2 + 1 AS snode
        FROM lineitem
    ),
    edges AS (
        SELECT pnode AS src, snode AS dst FROM pairs
        UNION ALL
        SELECT snode, pnode FROM pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    it0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS r FROM deg),
    {",".join(_pr_iteration_sql(k) for k in range(1, PR_ITERS + 1))}
    SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey,
           CAST(r AS BIGINT) AS rank
    FROM it{PR_ITERS}
    WHERE node % 2 = 1
    ORDER BY rank DESC, s_suppkey
    LIMIT {PR_TOP_K}
    """


@register("graph_pagerank_suppliers", oracle=_PAGERANK_ORACLE)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by PageRank on the part↔supplier bipartite
    graph (distinct lineitem (partkey, suppkey) pairs, both
    directions): a supplier is central when it supplies many parts
    that themselves have few alternative suppliers — the supply-chain
    criticality ranking a buyer risk team actually wants, which plain
    degree counting gets wrong.

    Three iterations of exact-integer message passing (see module
    docstring for why integer: hash-exact reproducibility).
    Per iteration: join ranks+degrees onto the edge list on src
    (contributions), hash-aggregate on dst (map-side combinable
    integer sums). Node encoding packs the bipartite id spaces as
    part=2k / supplier=2k+1 so one bigint column carries both sides.
    The final top-K is ``orderBy().limit()`` → TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("pnode"),
        (F.col("l_suppkey") * 2 + 1).alias("snode"),
    ).distinct()
    edges = pairs.select(
        F.col("pnode").alias("src"), F.col("snode").alias("dst")
    ).unionByName(
        pairs.select(F.col("snode").alias("src"), F.col("pnode").alias("dst"))
    )
    # The edge list and degree table are loop-invariant: materialize them
    # ONCE (same localCheckpoint pattern as connected_components) so each
    # iteration joins the materialized tables instead of re-deriving them
    # from the lineitem scan — without this the 3 iterations plan 14
    # scans of the fact table; with it, one.
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            edges.alias("e")
            .join(ranks.alias("p"), F.col("e.src") == F.col("p.node"))
            .join(deg.alias("d"), F.col("e.src") == F.col("d.node"))
            .select(F.col("e.dst").alias("dst"), F.expr("r div deg").alias("c"))
        )
        return (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(_RESET) + F.expr("(85 * sc) div 100"))
                .cast("bigint")
                .alias("r"),
            )
        )

    ranks = deg.select("node", F.lit(RANK_SCALE).cast("bigint").alias("r"))
    ranks = rounds(ranks, step, PR_ITERS)
    return (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.expr("(node - 1) div 2").cast("bigint").alias("s_suppkey"),
            F.col("r").cast("bigint").alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "s_suppkey")
        .limit(PR_TOP_K)
    )


def copurchase_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) incidence list, materialized once
    (``localCheckpoint``) — the shared base of every co-purchase
    derivation (a bare self-join would otherwise plan two lineitem
    scans + distinct exchanges per consumer)."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    return op.distinct().localCheckpoint(eager=True)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) co-purchase edge list over parts, materialized
    once — shared by the triangle, clustering-coefficient, and k-core
    operators. Pair generation self-joins the incidence list
    CO-PARTITIONED on the order key (candidates bounded by order
    size², ~7² in TPC-H — never a catalog cross product)."""
    op = copurchase_items(spark, sf_dir)
    return (
        op.alias("x")
        .join(op.alias("y"), (F.col("y.ok") == F.col("x.ok")) & (F.col("y.pk") > F.col("x.pk")))
        .select(F.col("x.pk").alias("a"), F.col("y.pk").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented, the O(m^1.5) wedge bound)
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON y.ok = x.ok AND y.pk > x.pk
    ),
    tri AS (
        SELECT COUNT(*) AS n
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT n FROM tri)      AS n_triangles
    """


@register("graph_triangles", oracle=_TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (two parts are
    adjacent when some order contains both): the clustering-coefficient
    numerator, the standard community-density probe.

    The oracle counts triangles the naive way (a<b<c triple self-join
    of the canonical edge list) — correct, but its wedge intermediate
    is Sum deg(v)^2, which a few high-degree hub parts turn into a
    quadratic blowup at scale. The Spark plan instead uses DEGREE
    ORIENTATION: each undirected edge is directed from its lower-rank
    endpoint under the total order (degree, id), so every node's
    out-degree is O(sqrt(m)) and total wedge work is bounded by m^1.5
    regardless of hubs — the distributed-triangle-counting standard
    (Suri & Vassilvitskii's MR model) — executed in edge-iterator form
    (per-edge oriented-adjacency intersection, see
    :func:`triangle_count`) so the wedges are never a shuffled
    intermediate. Each triangle is counted exactly once, from its
    lowest-rank corner. Both counts are method-independent, so the two
    engines agree exactly.

    Scale shape: edge derivation is one self-join of the per-order part
    list co-partitioned on l_orderkey (wedges within an order are
    bounded by order size, ~7 in TPC-H); the edge list is materialized
    once (``localCheckpoint``) because degrees, orientation, and
    closure all reuse it; wedge generation and closure are plain hash
    joins on node keys.
    """
    edges = copurchase_edges(spark, sf_dir)
    return triangle_count(edges)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle count over a CANONICAL edge list
    (columns ``a`` < ``b``, no duplicates). Returns one row
    (n_edges, n_triangles). See :func:`graph_triangles` for the
    orientation argument; this helper is the unit-testable core.

    EDGE-ITERATOR form: instead of materializing the wedge table
    (O(m^1.5) ROWS through a shuffle — measured 20s+ at sf0.1's dense
    co-purchase graph), build each node's ORIENTED adjacency array
    once (out-degree ≤ O(sqrt m) by the orientation bound, so arrays
    are small by construction) and count per edge (u,v) as
    ``|N+(u) ∩ N+(v)|`` with JVM ``array_intersect`` — the same
    m^1.5 work, but done inside per-edge expressions instead of as a
    shuffled intermediate. Two node-key joins replace the wedge
    shuffle + closure join (3.5× faster measured, identical count).
    """
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge from the (deg, id)-smaller endpoint to the larger.
    ranked = (
        edges.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    adj = oriented.groupBy(F.col("src").alias("node")).agg(
        F.collect_list("dst").alias("nbrs")
    )
    # Each triangle {x <r y <r z} is counted exactly once: at its
    # oriented edge (x, y), as z ∈ N+(x) ∩ N+(y).
    tri = (
        oriented.join(
            adj.select(F.col("node").alias("src"), F.col("nbrs").alias("na")), "src"
        )
        .join(
            adj.select(F.col("node").alias("dst"), F.col("nbrs").alias("nb")), "dst"
        )
        .agg(
            F.sum(F.expr("size(array_intersect(na, nb))"))
            .cast("bigint")
            .alias("n_triangles")
        )
        .select(F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(tri)).select("n_edges", "n_triangles")


# ---------------------------------------------------------------------------
# Global clustering coefficient (triangles / wedges)
# ---------------------------------------------------------------------------

_CLUSTERING_ORACLE = """
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON y.ok = x.ok AND y.pk > x.pk
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY node
    ),
    wedges AS (SELECT SUM(d * (d - 1) / 2) AS nw FROM deg),
    tri AS (
        SELECT COUNT(*) AS nt
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT COUNT(*) FROM deg)       AS n_nodes,
           (SELECT COUNT(*) FROM e)         AS n_edges,
           CAST((SELECT nw FROM wedges) AS BIGINT) AS n_wedges,
           (SELECT nt FROM tri)             AS n_triangles,
           CAST(3 * (SELECT nt FROM tri) AS DOUBLE)
               / CAST((SELECT nw FROM wedges) AS DOUBLE) AS global_cc
    """


@register("graph_clustering_coeff", oracle=_CLUSTERING_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the part co-purchase graph:
    3·triangles / wedges — the standard one-number answer to "is this
    graph clumpy or random?", and the sanity denominator for any
    community-detection result on it.

    Wedges are CLOSED-FORM from the degree table (Σ d(d-1)/2 — one
    node-sized aggregate, no path enumeration); triangles reuse the
    degree-oriented counter (:func:`triangle_count`). Both counts are
    exact integers, so the coefficient is one IEEE division of exact
    operands — bit-identical cross-engine. Everything downstream of
    the edge list operates on node-scale or single-row tables.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    tri = triangle_count(edges)  # (n_edges, n_triangles)
    return (
        node_stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("global_cc"),
        )
    )


# ---------------------------------------------------------------------------
# k-core extraction (bounded-round peeling)
# ---------------------------------------------------------------------------

KCORE_K = 80
KCORE_ROUNDS = 6


def _kcore_round_sql(r: int) -> str:
    prev = f"a{r - 1}"
    return f"""
    a{r} AS MATERIALIZED (
        SELECT node FROM (
            SELECT node, COUNT(*) AS cd FROM (
                SELECT e.a AS node FROM e
                JOIN {prev} x ON x.node = e.a JOIN {prev} y ON y.node = e.b
                UNION ALL
                SELECT e.b FROM e
                JOIN {prev} x ON x.node = e.a JOIN {prev} y ON y.node = e.b
            ) GROUP BY node
        ) WHERE cd >= {KCORE_K}
    )"""


_KCORE_ORACLE = f"""
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON y.ok = x.ok AND y.pk > x.pk
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e UNION SELECT b FROM e),
    {",".join(_kcore_round_sql(r) for r in range(1, KCORE_ROUNDS + 1))},
    fe AS (
        SELECT e.a, e.b FROM e
        JOIN a{KCORE_ROUNDS} x ON x.node = e.a
        JOIN a{KCORE_ROUNDS} y ON y.node = e.b
    ),
    fd AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT a AS node FROM fe UNION ALL SELECT b FROM fe
        ) GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes FROM fd GROUP BY degree
    """


@register("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the part co-purchase graph by iterative
    peeling: repeatedly drop nodes with (induced) degree below k until
    stable — the densest-region extractor used to find the "always
    bought together" backbone and, in dedup/community pipelines, to
    separate template clusters from incidental co-occurrence.

    The spec is BOUNDED-ROUND: exactly {KCORE_ROUNDS} peeling rounds,
    in both engines. Peeling is idempotent at the fixpoint, so when it
    converges earlier (it does here: 5 rounds at sf0.01) extra rounds
    are no-ops and the result IS the exact k-core; if a graph needs
    more rounds the output is still a well-defined (and identical)
    intermediate, never an engine-dependent one. Output is the degree
    histogram of the induced subgraph — any row with degree < k would
    prove non-convergence, so the result self-certifies.

    Scale: each round is two semi-joins of the edge list against the
    node-scale survivor set plus one degree aggregate; survivors are
    checkpointed between rounds (``operators.rounds``), the edge list
    once. Peeling rounds needed grow with core depth, not graph size — the 100 TB story is
    the same joins at bigger parallelism.
    """
    edges = copurchase_edges(spark, sf_dir)
    alive = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )

    def induced(alive_df: DataFrame) -> DataFrame:
        return edges.join(
            alive_df.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(alive_df.withColumnRenamed("node", "b"), "b", "left_semi")

    def peel(alive_df: DataFrame) -> DataFrame:
        ee = induced(alive_df)
        deg = (
            ee.select(F.col("a").alias("node"))
            .unionByName(ee.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("cd"))
        )
        return deg.filter(F.col("cd") >= KCORE_K).select("node")

    fe = induced(rounds(alive, peel, KCORE_ROUNDS))
    fd = (
        fe.select(F.col("a").alias("node"))
        .unionByName(fe.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return fd.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Bounded-hop BFS reachability (recall blast-radius)
# ---------------------------------------------------------------------------

BFS_HOPS = 3
BFS_SEED_BRAND = "Brand#11"


def _bfs_levels_sql() -> str:
    rounds = ",\n    ".join(
        f"r{k} AS (SELECT DISTINCT ed.dst AS node "
        f"FROM ed JOIN r{k - 1} ON ed.src = r{k - 1}.node)"
        for k in range(1, BFS_HOPS + 1)
    )
    levels = "\n        UNION ALL ".join(
        f"SELECT node, {k} AS d FROM r{k}" for k in range(BFS_HOPS + 1)
    )
    return f"{rounds},\n    lv AS ({levels})"


_REACHABILITY_ORACLE = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON y.ok = x.ok AND y.pk > x.pk
    ),
    ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    r0 AS (
        SELECT p_partkey AS node FROM part WHERE p_brand = '{BFS_SEED_BRAND}'
    ),
    {_bfs_levels_sql()},
    dist AS (SELECT node, MIN(d) AS hop FROM lv GROUP BY node)
    SELECT CAST(hop AS INTEGER) AS hop,
           COUNT(*) AS n_parts,
           CAST(SUM(TRY_CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
               AS retail_cents
    FROM dist JOIN part p ON p.p_partkey = dist.node
    GROUP BY hop
    """


@register("graph_reachability", oracle=_REACHABILITY_ORACLE)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall blast-radius: min-hop BFS distance from every part of a
    recalled brand ({BFS_SEED_BRAND}, ``BFS_SEED_BRAND``) through the
    co-purchase graph, bounded at {BFS_HOPS} hops (``BFS_HOPS``) — "how much of
    the catalog is within N
    degrees of the recall" is the standard contamination / exposure
    question, summarized as (hop, n_parts, exact-cents retail value).

    Frontier-expansion BFS over the BIPARTITE incidence, not a
    materialized edge table: a co-purchase edge is "two parts share an
    order", so one part-hop is exactly frontier parts → their orders →
    those orders' parts (two hash joins on the linear (order, part)
    incidence list). The round-6 form first materialized the pairwise
    edge table — |basket|² pairs per order — and BFS-joined it; the
    round-7 rewrite never builds pairs at all, which is the difference
    between linear-in-lineitem and quadratic-in-basket-size work (a
    single hot basket of 10⁶ items is 10¹² pairs in the edge form and
    2×10⁶ join rows here). Same-session A/B at sf0.1: edge-table BFS
    [4.26, 3.50, 3.52] s vs bipartite [2.73, 2.71, 2.64] s, identical
    output. The pair-edge derivation (``copurchase_edges``) still
    backs the operators that genuinely count pair structures
    (triangles / k-core / clustering coefficient).

    Each round keeps the SHRINKING-frontier discipline: new frontier =
    bipartite neighbors ANTI-joined against the visited set — a node's
    FIRST appearance is at its true BFS distance, so stacking the
    per-round frontiers with their round number IS the distance map,
    no MIN aggregate needed; later rounds cost proportional to NEW
    nodes only. Frontiers are ``localCheckpoint``-ed per round (the
    visited set has two consumers per round — same bounded-lineage
    discipline as connected components). Everything output is
    exact-integer (counts, cents), so the oracle hash-matches with
    zero float tolerance.

    No reference twin — extension surface (the reference has no graph
    operators); follows the same unrolled message-passing shape as
    :func:`graph_pagerank_suppliers`.
    """
    part = table(spark, sf_dir, "part")
    op = copurchase_items(spark, sf_dir)
    seeds = part.filter(F.col("p_brand") == BFS_SEED_BRAND).select(
        F.col("p_partkey").alias("node")
    )
    dist = bfs_hops_bipartite(op, seeds, BFS_HOPS)
    return (
        dist.join(part, part["p_partkey"] == dist["node"])
        .groupBy(F.col("hop").cast("int").alias("hop"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.expr("try_cast(round(p_retailprice * 100) as bigint)")).alias(
                "retail_cents"
            ),
        )
    )


def _bfs_walk(
    seeds: DataFrame,
    max_hops: int,
    n_bound: int,
    expand: Callable[[DataFrame, int], DataFrame],
) -> DataFrame:
    """The round loop shared by :func:`bfs_hops` and
    :func:`bfs_hops_bipartite`: ``(node, hop)`` for every node within
    ``max_hops`` of ``seeds(node)``. ``expand(frontier, n_rows)``
    returns the frontier's one-hop neighbors as ``(node)`` rows (may
    repeat nodes already seen; the loop anti-joins them away) and hints
    its frontier-sized join sides through :func:`broadcast_if_fits`
    with ``n_rows``.

    Join strategy: the checkpointed frontier carries no size statistics,
    so without a hint every expansion join plans sort-merge and shuffles
    the (large) edge/incidence list each round. ``n_bound`` is the row
    count of that list and bounds every frontier; when it fits under
    :data:`~spark_etl_pipeline_spark.operators.BROADCAST_MAX_ROWS` every
    round broadcasts with no per-round gating job. Otherwise each round
    pays an exact frontier count — it doubles as the lazy checkpoint's
    materialization and lets an empty frontier skip its expansion — so a
    wide seed set degrades to sort-merge rounds instead of an
    executor-sized broadcast.

    Lineage bound (deep-hop safety): ``operators.rounds`` checkpoints
    every per-round frontier but the last BEFORE it joins the distance
    map, and the map is ONE flat union over those frontiers — so the
    returned plan is a union of checkpointed leaf scans plus at most
    one live round, linear in hops. Pinned at hops=10 by
    ``tests/test_graph_triangles.py::test_bfs_deep_hops_plan_bounded``.
    Each checkpointed frontier has three consumers (seen-union, next
    round's join, level row); the last has only its level row.

    The visited set is a FLAT UNION of the already-checkpointed
    frontiers rather than its own re-checkpointed table, which saved
    one materialization job per round. Measured at sf0.1 together with
    lazy checkpoints: eager-everything 3.16 s → 1.56 s, identical
    output.
    """
    frontiers = []

    def step(frontier: DataFrame) -> DataFrame:
        frontiers.append(frontier)
        n_rows = n_bound
        if n_bound > operators.BROADCAST_MAX_ROWS:
            n_rows = frontier.count()
            if n_rows == 0:
                return frontier  # nothing left to reach
        seen = reduce(DataFrame.unionByName, frontiers)
        return expand(frontier, n_rows).join(seen, "node", "left_anti")

    seeds = seeds.select("node").distinct().localCheckpoint(eager=False)
    frontiers.append(rounds(seeds, step, max_hops))
    return reduce(
        DataFrame.unionByName,
        (f.select("node", F.lit(k).alias("hop")) for k, f in enumerate(frontiers)),
    )


def bfs_hops_bipartite(
    op: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Min-hop BFS distance over the co-membership graph IMPLIED by a
    bipartite ``op(ok, pk)`` incidence list (two parts are adjacent iff
    they share an ``ok``), from a ``seeds(node)`` set, bounded at
    ``max_hops``. Returns ``(node, hop)``. One part-hop = two joins on
    the incidence list — pairwise edges are never materialized; see
    :func:`graph_reachability` for the scale argument and A/B. The
    round loop, join strategy and lineage bound are :func:`_bfs_walk`'s;
    callers pass an eagerly checkpointed ``op``, so its row count is a
    cached-block read.
    """

    def expand(frontier: DataFrame, n_rows: int) -> DataFrame:
        # The derived order set is the frontier's one-hop order
        # neighborhood: the same blast-radius bound the frontier's
        # count witnesses, so it shares the round's gate.
        orders = (
            op.join(broadcast_if_fits(frontier, n_rows), op["pk"] == frontier["node"])
            .select("ok")
            .distinct()
        )
        return (
            op.join(broadcast_if_fits(orders, n_rows), "ok")
            .select(F.col("pk").alias("node"))
            .distinct()
        )

    return _bfs_walk(seeds, max_hops, op.count(), expand)


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Min-hop BFS distance over a CANONICAL undirected edge list
    (columns ``a`` < ``b``) from a ``seeds(node)`` set, bounded at
    ``max_hops``. Returns ``(node, hop)`` — the explicit-edge twin of
    :func:`bfs_hops_bipartite` for graphs that arrive AS edge lists;
    same shrinking-frontier discipline and the same linear lineage
    bound (union of checkpointed leaf scans plus at most one live
    round; see :func:`_bfs_walk`).
    """
    ed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))

    def expand(frontier: DataFrame, n_rows: int) -> DataFrame:
        return (
            ed.join(broadcast_if_fits(frontier, n_rows), ed["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )

    # The vertex set is bounded by the symmetrized edge rows.
    return _bfs_walk(seeds, max_hops, ed.count(), expand)
