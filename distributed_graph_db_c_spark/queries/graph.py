"""Graph queries over relational-table-derived edges (reference ops 3/4).

The correctness driver can only oracle-check SQL over the driver's parquet
tables, so the graphs here are derived deterministically from those tables
(FIXTURES.md §B) and every traversal has a DuckDB ``WITH RECURSIVE`` oracle:

- order-chain graph: per customer, orders sorted by (o_orderdate,
  o_orderkey) form a path; symmetrized.  BFS from the first order of
  customer 1 walks that customer's chain — level = hop count.
- nation graph: nations in the same region form a clique (5 components of
  ~5 — good CC fixture).

Scale: edge derivation is a window + self-union (one shuffle by
customer).  BFS and DFS leaves fold the edges into graph rows with one
``groupBy(graph_id)`` and walk them with the serving path's graph-row
kernels; CC, PageRank, SSSP and k-core call their in-task pandas kernels.
Each query calls its kernel directly: nothing counts edges to choose one.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.traversal import (
    bfs_graph_rows,
    connected_components_fleet,
    degrees,
    dfs_leaves_graph_rows,
    dfs_preorder,
    graph_rows,
)
from ..registry import register
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# shared edge derivations (Spark side)
# ---------------------------------------------------------------------------


def order_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(graph_id=0, src, dst): per-customer order chains, symmetrized."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select(
            F.lag("o_orderkey").over(w).alias("src"),
            F.col("o_orderkey").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    sym = chain.unionByName(chain.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return sym.select(F.lit(0).alias("graph_id"), "src", "dst")


def nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(graph_id=0, src, dst): same-region nation cliques (already symmetric)."""
    nation = load_table(spark, sf_dir, "nation")
    a = nation.select(F.col("n_regionkey").alias("rk"), F.col("n_nationkey").alias("src"))
    b = nation.select(F.col("n_regionkey").alias("rk"), F.col("n_nationkey").alias("dst"))
    return (
        a.join(b, on="rk")
        .filter(F.col("src") != F.col("dst"))
        .select(F.lit(0).alias("graph_id"), F.col("src").cast("long"), F.col("dst").cast("long"))
    )


# SQL fragments shared by all graph oracles (DuckDB dialect).
_CHAIN_CTES = """
ordered AS (
    SELECT o_orderkey,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_key
    FROM orders
),
chain AS (SELECT prev_key AS src, o_orderkey AS dst FROM ordered WHERE prev_key IS NOT NULL),
edges AS (SELECT src, dst FROM chain UNION ALL SELECT dst AS src, src AS dst FROM chain)
"""

_START_CTE = "start AS (SELECT MIN(o_orderkey) AS s FROM orders WHERE o_custkey = 1)"

_ORDER_CHAIN_SQL = f"{_CHAIN_CTES},\n{_START_CTE}"

# Bounded-level BFS recursion: components are single-customer chains
# (<= a few dozen nodes), so the level bound caps the ping-pong growth of
# the (id, level) pair space that UNION-dedup recursion needs to terminate.
_BFS_SQL = f"""
WITH RECURSIVE
{_ORDER_CHAIN_SQL},
walk(id, level) AS (
    SELECT s, 0 FROM start
    UNION
    SELECT e.dst, w.level + 1
    FROM walk w JOIN edges e ON e.src = w.id
    WHERE w.level < 100
)
SELECT id, CAST(MIN(level) AS BIGINT) AS level FROM walk GROUP BY id
"""


@register("graph_bfs_order_chain", oracle=_BFS_SQL)
def graph_bfs_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op 4 (BFS level traversal, secondary_server.c:389-550) on
    the order-chain graph: (id, level) for every order reachable from
    customer 1's first order."""
    orders = load_table(spark, sf_dir, "orders")
    start = (
        orders.filter(F.col("o_custkey") == 1)
        .agg(F.min("o_orderkey").alias("id"))
        .select(F.lit(0).alias("graph_id"), "id")
    )
    edges = order_chain_edges(spark, sf_dir)
    # the whole order-chain graph is one row (270k edges at sf0.1); the
    # kernel agrees with the iterative bfs, pinned in tests/test_properties.py
    return bfs_graph_rows(graph_rows(edges, start), ["graph_id"]).select("id", "level")


_DFS_LEAVES_SQL = f"""
WITH RECURSIVE
{_ORDER_CHAIN_SQL},
walk(id, level) AS (
    SELECT s, 0 FROM start
    UNION
    SELECT e.dst, w.level + 1
    FROM walk w JOIN edges e ON e.src = w.id
    WHERE w.level < 100
),
reach AS (SELECT id, MIN(level) AS level FROM walk GROUP BY id),
deg AS (SELECT src AS id, COUNT(DISTINCT dst) AS degree FROM edges GROUP BY src)
SELECT r.id
FROM reach r LEFT JOIN deg d USING (id)
WHERE COALESCE(d.degree, 0) <= 1
  AND NOT (r.level = 0 AND COALESCE(d.degree, 0) >= 1)
"""


@register("graph_dfs_leaves_order_chain", oracle=_DFS_LEAVES_SQL)
def graph_dfs_leaves_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op 3 (DFS leaf report, secondary_server.c:209-361),
    canonical semantics (SURVEY.md §2.1): reachable vertices with degree
    <= 1, excluding a non-isolated start."""
    orders = load_table(spark, sf_dir, "orders")
    start = (
        orders.filter(F.col("o_custkey") == 1)
        .agg(F.min("o_orderkey").alias("id"))
        .select(F.lit(0).alias("graph_id"), "id")
    )
    edges = order_chain_edges(spark, sf_dir)
    return dfs_leaves_graph_rows(graph_rows(edges, start), ["graph_id"]).select("id")


# Customer 1's chain is a path, but the start (MIN o_orderkey) can sit
# MID-chain (the chain is date-ordered).  DFS with sorted-neighbour
# tie-break then walks the smaller level-1 neighbour's branch to its end
# first, then the other branch: pos = hop distance on the first branch,
# hop distance + |first branch| on the second.  The oracle recovers both
# facts from a recursive walk that carries the first step taken.
_DFS_PREORDER_SQL = f"""
WITH RECURSIVE
{_ORDER_CHAIN_SQL},
walk(id, first, level) AS (
    SELECT s, CAST(NULL AS BIGINT), 0 FROM start
    UNION
    SELECT e.dst, COALESCE(w.first, CAST(e.dst AS BIGINT)), w.level + 1
    FROM walk w JOIN edges e ON e.src = w.id
    WHERE w.level < 100
),
r AS (SELECT id, arg_min(first, level) AS first, MIN(level) AS level
      FROM walk GROUP BY id),
side_a AS (SELECT MIN(first) AS fst FROM r WHERE level = 1),
-- level > 0 guard: the start's arg_min(first, ...) ignores its NULL-first
-- level-0 row and tie-breaks arbitrarily between bounce paths — the start
-- must never count toward a branch length
a_len AS (SELECT COUNT(*) AS n FROM r JOIN side_a ON r.first = side_a.fst
          WHERE r.level > 0)
SELECT CAST(id AS BIGINT) AS id,
       CAST(CASE WHEN level = 0 THEN 0
                 WHEN first = (SELECT fst FROM side_a) THEN level
                 ELSE level + (SELECT n FROM a_len) END AS BIGINT) AS pos
FROM r
"""


@register("graph_dfs_preorder", oracle=_DFS_PREORDER_SQL)
def graph_dfs_preorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DFS preorder (reference op 3's traversal order made
    deterministic, secondary_server.c:183-200: thread spawn order replaced
    by ascending-id neighbour order) on customer 1's order chain — the
    applyInPandas per-graph kernel's driver gate."""
    orders = load_table(spark, sf_dir, "orders")
    start = (
        orders.filter(F.col("o_custkey") == 1)
        .agg(F.min("o_orderkey").alias("id"))
        .select(F.lit(0).alias("graph_id"), "id")
    )
    edges = order_chain_edges(spark, sf_dir)
    return dfs_preorder(edges, start).select(F.col("id"), F.col("pos"))


# Unbounded UNION recursion terminates here because the state is (id, comp)
# pairs within a component — finite, no level column.
_CC_SQL = """
WITH RECURSIVE
e AS (
    SELECT a.n_nationkey AS src, b.n_nationkey AS dst
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
),
r(id, comp) AS (
    SELECT n_nationkey, n_nationkey FROM nation
    UNION
    SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(comp) AS BIGINT) AS component
FROM r GROUP BY id
"""


@register("graph_connected_components_nations", oracle=_CC_SQL)
def graph_connected_components_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (SURVEY.md §2.3 graph analytics) on the
    same-region nation graph: min-label propagation, Pregel-style."""
    nation = load_table(spark, sf_dir, "nation")
    vertices = nation.select(
        F.lit(0).alias("graph_id"), F.col("n_nationkey").cast("long").alias("id")
    )
    edges = nation_edges(spark, sf_dir)
    # in-task union-find: the nation graph is one tiny graph
    return connected_components_fleet(edges, vertices).select(
        F.col("id"), F.col("component").cast("long").alias("component")
    )


_DEGREE_HIST_SQL = f"""
WITH
{_CHAIN_CTES},
deg AS (SELECT src AS id, COUNT(DISTINCT dst) AS degree FROM edges GROUP BY src)
SELECT degree, COUNT(*) AS cnt FROM deg GROUP BY degree
"""


@register("graph_degree_histogram", oracle=_DEGREE_HIST_SQL)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the order-chain graph (SURVEY.md §2.3)."""
    edges = order_chain_edges(spark, sf_dir)
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("degree"), F.col("cnt"))
    )


_TRIANGLE_SQL = """
WITH e AS (
    SELECT a.n_nationkey AS src, b.n_nationkey AS dst
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
)
SELECT CAST(COUNT(*) / 6 AS BIGINT) AS triangles
FROM e e1
JOIN e e2 ON e1.dst = e2.src
JOIN e e3 ON e2.dst = e3.src AND e3.dst = e1.src
"""


@register("graph_triangle_count_nations", oracle=_TRIANGLE_SQL)
def graph_triangle_count_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count via 2-hop self-join (SURVEY.md §2.3); each triangle
    appears 6x in the directed-closure count, divide out."""
    e = nation_edges(spark, sf_dir).select("src", "dst")
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("c"), F.col("dst").alias("a2"))
    tri = (
        e1.join(e2, on="b")
        .join(e3, on="c")
        .filter(F.col("a") == F.col("a2"))
        .agg((F.count("*") / 6).cast("long").alias("triangles"))
    )
    return tri


def _pagerank_sql(iterations: int = 10, scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank oracle: one CTE per iteration (DuckDB
    recursive CTEs cannot aggregate in the recursive member, so unroll).
    Same integer arithmetic as operators.traversal.pagerank: // is floor
    division, identical to Spark's DIV on non-negative operands."""
    ctes = [
        """e AS (
    SELECT a.n_nationkey AS src, b.n_nationkey AS dst
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
),
deg AS (SELECT src AS id, COUNT(*) AS degree FROM e GROUP BY src),
base AS (SELECT n_nationkey AS id, (SELECT COUNT(*) FROM nation) AS n_g FROM nation)""",
        f"pr0 AS (SELECT id, CAST({scale} AS BIGINT) // n_g AS r FROM base)",
    ]
    for i in range(iterations):
        ctes.append(
            f"""pr{i + 1} AS (
    SELECT base.id,
           CAST({15 * scale} AS BIGINT) // (100 * base.n_g)
           + (85 * coalesce(s.s, CAST(0 AS BIGINT))) // 100 AS r
    FROM base LEFT JOIN (
        SELECT e.dst AS id, CAST(SUM(p.r // deg.degree) AS BIGINT) AS s
        FROM pr{i} p JOIN e ON e.src = p.id JOIN deg ON deg.id = p.id
        GROUP BY e.dst
    ) s ON s.id = base.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(id AS BIGINT) AS id, r AS rank_scaled FROM pr{iterations}"
    )


@register("graph_pagerank_nations", oracle=_pagerank_sql())
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 10 iterations, integer fixed-point — see
    operators.traversal.pagerank) over the same-region nation graph."""
    from ..operators.traversal import pagerank_fleet

    nation = load_table(spark, sf_dir, "nation")
    vertices = nation.select(
        F.lit(0).alias("graph_id"), F.col("n_nationkey").cast("long").alias("id")
    )
    edges = nation_edges(spark, sf_dir)
    # in-task kernel, bit-identical to the iterative pagerank (property test)
    return pagerank_fleet(edges, vertices).select("id", "rank_scaled")


# ---------------------------------------------------------------------------
# Fleet BFS: 5 per-region nation chains traversed simultaneously, one graph
# row per region.
# ---------------------------------------------------------------------------

_FLEET_SQL = """
SELECT CAST(n_regionkey AS INT) AS graph_id,
       CAST(n_nationkey AS BIGINT) AS id,
       CAST(ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) - 1
            AS BIGINT) AS level
FROM nation
"""


@register("graph_bfs_fleet_regions", oracle=_FLEET_SQL)
def graph_bfs_fleet_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-row BFS over a fleet of 5 chain graphs — one per region,
    nations chained in key order, start = each region's lowest nation.
    On a chain from the minimum, BFS level == rank-1, which gives the
    oracle WITHOUT recursion.  This is the reference's many-tiny-graphs
    regime (catalog of <=30-node graphs, client.c:15): each graph folds
    into one row and is walked by the serving path's BFS expression, with
    no supersteps."""
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = (
        nation.select(
            F.col("n_regionkey").cast("int").alias("graph_id"),
            F.lag("n_nationkey").over(w).alias("src"),
            F.col("n_nationkey").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    edges = chain.unionByName(
        chain.select("graph_id", F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select("graph_id", F.col("src").cast("long"), F.col("dst").cast("long"))
    starts = (
        nation.groupBy(F.col("n_regionkey").cast("int").alias("graph_id"))
        .agg(F.min("n_nationkey").cast("long").alias("id"))
    )
    return bfs_graph_rows(graph_rows(edges, starts), ["graph_id"])


# ---------------------------------------------------------------------------
# Weighted SSSP on customer 1's order chain.  The chain is a PATH ordered
# by (o_orderdate, o_orderkey) with edge weight = day gap between
# consecutive orders, so min-cost distance from the start is |cumulative
# gap difference| — window functions express the oracle, no recursion.
# ---------------------------------------------------------------------------

_SSSP_SQL = """
WITH c1 AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_custkey = 1),
g AS (SELECT o_orderkey, o_orderdate,
             COALESCE(date_diff('day',
                                CAST(LAG(o_orderdate) OVER (ORDER BY o_orderdate, o_orderkey) AS DATE),
                                CAST(o_orderdate AS DATE)), 0) AS gap
      FROM c1),
cum AS (SELECT o_orderkey,
               SUM(gap) OVER (ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM g),
s AS (SELECT cum AS scum FROM cum
      WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM c1))
SELECT CAST(o_orderkey AS BIGINT) AS id,
       CAST(ABS(cum - (SELECT scum FROM s)) AS BIGINT) AS dist
FROM cum
"""


@register("graph_sssp_order_chain", oracle=_SSSP_SQL)
def graph_sssp_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (operators/traversal.sssp):
    BFS generalized to non-negative integer weights — here the day gaps
    between a customer's consecutive orders.  The start (customer 1's
    MIN o_orderkey) can sit MID-chain, so the traversal genuinely relaxes
    in both directions; on a path graph the true distance is the
    |cumulative-gap difference|, which is what the window-sum oracle
    computes.  In-task Dijkstra (:func:`sssp_fleet`); the
    frontier-relaxation :func:`sssp` is its property-test reference."""
    from ..operators.traversal import sssp_fleet

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select(
            F.lag("o_orderkey").over(w).alias("src"),
            F.col("o_orderkey").alias("dst"),
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("src").isNotNull())
    )
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).select(F.lit(0).alias("graph_id"), F.col("src").cast("long"), F.col("dst").cast("long"), "w")
    start = (
        orders.filter(F.col("o_custkey") == 1)
        .agg(F.min("o_orderkey").alias("id"))
        .select(F.lit(0).alias("graph_id"), "id")
    )
    return sssp_fleet(edges, start).select("id", "dist")


# Directed (unsymmetrized) order chains: a forest of per-customer paths —
# a DAG by construction, the toposort fixture.
_TOPO_SQL = """
WITH RECURSIVE
ordered AS (
    SELECT o_orderkey,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_key
    FROM orders
),
chain AS (SELECT prev_key AS src, o_orderkey AS dst FROM ordered WHERE prev_key IS NOT NULL),
nodes AS (SELECT src AS id FROM chain UNION SELECT dst FROM chain),
roots AS (SELECT id FROM nodes WHERE id NOT IN (SELECT dst FROM chain)),
walk(id, level) AS (
    SELECT id, 0 FROM roots
    UNION
    SELECT c.dst, w.level + 1
    FROM walk w JOIN chain c ON c.src = w.id
    WHERE w.level < 500
)
SELECT id, CAST(MAX(level) AS BIGINT) AS level FROM walk GROUP BY id
"""


@register("graph_toposort_levels", oracle=_TOPO_SQL)
def graph_toposort_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological levels (round 5, operators/traversal.toposort_levels):
    every order's longest-path depth from its customer chain's first
    order, over the DIRECTED (unsymmetrized) chain DAG — the dependency-
    scheduling order BFS level does not give on reconverging DAGs.  The
    oracle walks the same DAG with a recursive CTE and folds MAX(level).

    Supersteps = longest chain length (bounded by orders-per-customer,
    ~dozens at any SF — the iteration count is set by graph DEPTH, not
    graph size, the property that makes frontier iteration viable at
    100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select(
            F.lag("o_orderkey").over(w).alias("src"),
            F.col("o_orderkey").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .select(F.lit(0).alias("graph_id"), "src", "dst")
    )
    from ..operators.traversal import toposort_levels

    return toposort_levels(chain, max_iter=500).select(
        F.col("id"), F.col("level").cast("long").alias("level")
    )


_ROOTS_SQL = """
WITH ordered AS (
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) AS root,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders)
SELECT o_orderkey AS id, CAST(root AS BIGINT) AS root
FROM ordered WHERE n >= 2
"""


@register("graph_chain_roots", oracle=_ROOTS_SQL)
def graph_chain_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed union-find find() (round 5,
    operators/traversal.forest_roots): every order resolves to the ROOT
    of its customer's chain — the first order — by pointer doubling in
    ceil(log2 depth) rounds; the CDC-lineage / survivorship primitive
    ("which original record does this amendment chain descend from").
    The oracle takes the relational shortcut (FIRST_VALUE over the
    customer window) that exists only because the chains are derived
    from a window in the first place; the operator never sees the
    customer key, only (src, dst) edges.  Single-order customers have
    no edges and are excluded on both sides."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select(
            F.lag("o_orderkey").over(w).alias("src"),
            F.col("o_orderkey").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .select(F.lit(0).alias("graph_id"), "src", "dst")
    )
    from ..operators.traversal import forest_roots

    return forest_roots(chain).select("id", "root")


_COPURCHASE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT part_a, part_b, n_orders
FROM pairs
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@register("graph_copurchase_pairs", oracle=_COPURCHASE_SQL)
def graph_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (round 5): the bipartite
    order-contains-part graph projected onto parts — top-20 part pairs
    by number of orders containing both (the support counts under
    association-rule mining, and the edge weights of a co-purchase
    graph).  The self-join keys on the ORDER, so fan-out is
    lines-per-order choose 2 (~21 for TPC-H's <=7 lines) — linear in
    orders, never parts x parts; the pair aggregate is one
    partial-agged shuffle and the top-20 compiles to
    TakeOrderedAndProject.  Unique-key tie-break (part_a, part_b) makes
    the cut deterministic."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, on="k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# -- round 6: k-core decomposition -----------------------------------------

def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled peeling oracle: each CTE layer drops vertices with degree
    < k in the previous layer's induced subgraph.  Peeling is IDEMPOTENT
    past the fixpoint, so unrolling MORE rounds than convergence needs is
    harmless — ``rounds`` is convergence at the gate corpus (4 at
    sf0.01) plus safety margin, and a corpus change that needs more
    rounds flips the gate red loudly (diagnose with the pytest
    reference-peeler differential, then raise ``rounds``)."""
    layers = ["a0 AS (SELECT DISTINCT u FROM und)"]
    for i in range(1, rounds + 1):
        layers.append(
            f"a{i} AS (SELECT u FROM ("
            f"SELECT e.u, COUNT(*) AS d FROM und e "
            f"JOIN a{i-1} x ON e.u = x.u JOIN a{i-1} y ON e.v = y.u "
            f"GROUP BY e.u) WHERE d >= {k})"
        )
    return f"""
WITH e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
und AS (SELECT src AS u, dst AS v FROM e0 UNION ALL SELECT dst, src FROM e0),
{", ".join(layers)}
SELECT e.u AS part_id, COUNT(*) AS core_degree
FROM und e JOIN a{rounds} x ON e.u = x.u JOIN a{rounds} y ON e.v = y.u
GROUP BY e.u
"""


@register("graph_kcore_copurchase", oracle=_kcore_sql(2, 6))
def graph_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE over the co-purchase graph (round 6): the maximal subgraph
    in which every part is co-purchased (same order, support >= 2) with
    at least k=2 other core parts — the dense-community extraction that
    prunes tendrils and leaves the stable product neighborhoods
    (operators/traversal.kcore, iterative peeling with per-round
    lineage truncation).

    CORPUS-CONTINGENT ORACLE: peeling is not expressible as a single
    recursive CTE (aggregation in the recursive term), so the oracle
    UNROLLS 6 peeling rounds — exact while the gate corpus converges
    within 6 (measured: 4 at sf0.01; extra rounds are idempotent).
    The operator itself runs to the true fixpoint at any scale; the
    pytest differential against a reference peeler covers graphs the
    unrolled oracle can't.  The graph fits one task (7,706 edges at
    sf0.1), so the linear-time in-task bucket peel runs: peel depth is
    free (the sf0.1 graph needs ~15 rounds of the per-round loop)."""
    from ..operators.traversal import kcore_fleet

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    und = pairs.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        pairs.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    return kcore_fleet(und, k=2).select(
        F.col("id").alias("part_id"), "core_degree"
    )
