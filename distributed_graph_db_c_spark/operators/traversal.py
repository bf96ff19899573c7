"""Graph traversal operators (reference ops 3 and 4, SURVEY.md §2.1).

Reference semantics being re-expressed:

- op 4 BFS (secondary_server.c:389-550): level-synchronous traversal from a
  1-based start node, one pthread per popped frontier node pushing unvisited
  neighbours under a mutex (BFShelper :363-387).  The thread races make the
  output order nondeterministic and can emit a vertex twice (visited is set
  only at pop, :521).  Canonical semantics here: each reachable vertex once,
  with its level = shortest-path hop count; canonical order (level, id).

- op 3 DFS "leaf report" (secondary_server.c:209-361): parallel DFS whose
  output is only the base-case vertices (:166) — isolated vertices, or
  vertices whose only neighbour is already visited.  Canonical semantics
  (SURVEY.md §2.1, chosen to match the reference's output *set* exactly):
  vertices reachable from start with degree <= 1, excluding a non-isolated
  start vertex.  SQL-expressible, deterministic.

Two kernel families, chosen by the caller (nothing counts edges to pick):

- Graph-row kernels (``bfs_graph_row_arrays``/
  ``dfs_leaves_graph_row_arrays``, and their exploded ``bfs_graph_rows``/
  ``dfs_leaves_graph_rows``): each start row carries its whole graph as
  one ``edges`` array — the serving path attaches the catalog's stored
  rows, analytics callers fold an edge frame with ``graph_rows`` (one
  ``groupBy``) — and the traversal is SQL higher-order-function
  expressions on that row: no supersteps and no Python worker.  The
  reference's regime: one loaded graph traversed in-process
  (secondary_server.c:463-501).
- Iterative superstep kernels (``bfs``, ``dfs_leaves``,
  ``connected_components``, ``pagerank``, ``sssp``, ``kcore``): the
  textbook BSP/Pregel loop (GraphX, OSDI'14) as DataFrame ops, one
  equi-join + anti-join per superstep with the shuffle as the barrier,
  for a graph too big for one row.  They are also the test references for
  the in-task kernels.  ``localCheckpoint`` every few supersteps truncates
  lineage.

The ``*_fleet`` kernels (PageRank, CC, SSSP, k-core) still walk each
graph in one pandas task; on large rows with arbitrary ids they need a
position-indexed adjacency row before they can join the graph-row family.
"""

from __future__ import annotations

import functools

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_CHECKPOINT_EVERY = 3

# Target rows per cached adjacency partition (~50 MB of (long,long,long)
# rows).  Iterative kernels probe the cached adjacency once per superstep,
# so its partition count sets the per-superstep task floor: size it to the
# data instead of inheriting spark.sql.shuffle.partitions — a 300k-edge
# graph gets 1 partition (1 task/superstep), a 100 TB edge list gets
# hundreds of thousands (capped), each a scannable chunk.
_ADJ_ROWS_PER_PARTITION = 2_000_000
_ADJ_MAX_PARTITIONS = 200_000


def _partitioned_adj(edges: DataFrame) -> DataFrame:
    """(graph_id, id, nb) hash-partitioned on the join key and persisted.

    Partitioned-by-key persistence means every superstep's equi-join
    satisfies its distribution requirement from the cache — the edge set is
    shuffled exactly once for the whole iteration, never per superstep.
    Costs one counting pass up front to size the partition count.
    """
    adj = edges.select("graph_id", F.col("src").alias("id"), F.col("dst").alias("nb"))
    n_edges = adj.count()
    n_part = min(n_edges // _ADJ_ROWS_PER_PARTITION + 1, _ADJ_MAX_PARTITIONS)
    return adj.repartition(n_part, "graph_id", "id").persist()


def bfs(
    edges: DataFrame,
    starts: DataFrame,
    max_level: int | None = None,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Multi-source, multi-graph BFS.

    Args:
      edges:  (graph_id, src, dst) with both directions materialized.
      starts: (graph_id, id) — one or many (graph, start-vertex) pairs.
      broadcast_threshold: row count under which the frontier / visited
        sides are broadcast-hinted instead of shuffled.
    Returns:
      (graph_id, id, level) — level 0 for the start vertex, each reachable
      vertex exactly once at its minimum hop distance.

    Shuffle budget per superstep (the thing that matters at 100 TB):
    - The adjacency is shuffled ONCE up front (repartition on the join key)
      and persisted; every superstep's equi-join then satisfies its
      distribution requirement from the cached partitioning — the edge set
      is never re-shuffled, only probed.
    - While the frontier / visited set are small (the common case: BFS from
      a handful of sources), they ride in as broadcast hash joins — the
      superstep moves only the frontier, O(frontier), not O(edges).
    - When a frontier outgrows the threshold (a giant-component sweep on a
      big graph), it falls back to shuffling just that frontier against the
      pre-partitioned adjacency.
    The frontier is materialized (localCheckpoint) every superstep: its
    count doubles as the termination check, lineage stays O(1), and the
    next superstep probes materialized rows instead of recomputing.
    """
    # Rename edge endpoints so every superstep joins by name — avoids the
    # self-lineage column-ambiguity trap of iterative DataFrame loops.
    adj = _partitioned_adj(edges)
    visited = starts.select("graph_id", F.col("id").cast("long").alias("id")).withColumn(
        "level", F.lit(0)
    )
    frontier = visited.localCheckpoint(eager=True)
    f_cnt = frontier.count()
    v_cnt = f_cnt
    level = 0
    while f_cnt > 0:
        if max_level is not None and level >= max_level:
            break
        level += 1
        f_side = F.broadcast(frontier) if f_cnt <= broadcast_threshold else frontier
        neighbours = (
            f_side.select("graph_id", "id")
            .join(adj, on=["graph_id", "id"])
            .select("graph_id", F.col("nb").alias("id"))
            .distinct()
        )
        v_side = F.broadcast(visited) if v_cnt <= broadcast_threshold else visited
        frontier = neighbours.join(v_side, on=["graph_id", "id"], how="left_anti").withColumn(
            "level", F.lit(level)
        )
        frontier = frontier.localCheckpoint(eager=True)
        f_cnt = frontier.count()
        if f_cnt == 0:
            break
        visited = visited.union(frontier)
        v_cnt += f_cnt
        if level % _CHECKPOINT_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
    visited = visited.localCheckpoint(eager=True)  # result independent of adj cache
    adj.unpersist()
    return visited


def degrees(edges: DataFrame) -> DataFrame:
    """(graph_id, id, degree) for every vertex with at least one edge.
    Edges are symmetrized, so degree(v) = distinct neighbours of v."""
    return (
        edges.select("graph_id", F.col("src").alias("id"), "dst")
        .distinct()
        .groupBy("graph_id", "id")
        .agg(F.count("*").alias("degree"))
    )


def dfs_leaves(edges: DataFrame, starts: DataFrame) -> DataFrame:
    """Reference op 3, canonical semantics (SURVEY.md §2.1): vertices
    reachable from the start with degree <= 1, excluding a non-isolated
    start vertex.  Matches the reference's emitted set on every fixture.

    Pure DataFrame composition: reachability (BFS kernel) + degree
    left-join + filter — no Python in the hot path.
    """
    reachable = bfs(edges, starts).select("graph_id", "id", "level")
    deg = degrees(edges)
    return (
        reachable.join(deg, on=["graph_id", "id"], how="left")
        .withColumn("degree", F.coalesce(F.col("degree"), F.lit(0)))
        .filter(
            (F.col("degree") <= 1)
            & ~((F.col("level") == 0) & (F.col("degree") >= 1))  # non-isolated start excluded
        )
        .select("graph_id", "id")
    )


def dfs_preorder(edges: DataFrame, starts: DataFrame) -> DataFrame:
    """Sequential DFS preorder per graph, neighbours visited in ascending id
    (the deterministic canonicalization of the reference's thread-racing DFS,
    secondary_server.c:183-200 — thread spawn order replaced by sorted order).

    Implementation: grouped-map pandas UDF (``applyInPandas``) — one Arrow
    batch per graph.  Correct tool because a *single* DFS preorder is
    inherently sequential; the parallelism axis is the fleet of graphs
    (reference: one server thread per request — same shape).  Only suitable
    for graphs that fit in one executor's memory; the reference caps graphs
    at 30 nodes (client.c:15), ours comfortably handles millions of edges
    per graph before this needs the big-graph reachability path instead.

    Returns (graph_id, id, pos) with pos = 0-based preorder position.
    """
    tagged = edges.join(
        starts.withColumnRenamed("id", "_start"), on="graph_id", how="inner"
    ).select("graph_id", "src", "dst", "_start")
    # Isolated start vertices have no edges; union a marker row so the group exists.
    marker = starts.select(
        "graph_id",
        F.lit(None).cast("long").alias("src"),
        F.lit(None).cast("long").alias("dst"),
        F.col("id").cast("long").alias("_start"),
    )
    grouped = tagged.unionByName(marker)

    def run_dfs(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(pdf["graph_id"].iloc[0])
        start = int(pdf["_start"].iloc[0])
        adj: dict[int, list[int]] = {}
        for s, d in zip(pdf["src"], pdf["dst"]):
            if pd.isna(s):
                continue
            adj.setdefault(int(s), []).append(int(d))
        for v in adj:
            adj[v].sort()
        order: list[int] = []
        seen = {start}
        stack = [(start, iter(adj.get(start, [])))]
        order.append(start)
        while stack:
            v, it = stack[-1]
            advanced = False
            for nb in it:
                if nb not in seen:
                    seen.add(nb)
                    order.append(nb)
                    stack.append((nb, iter(adj.get(nb, []))))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
        return pd.DataFrame(
            {"graph_id": gid, "id": order, "pos": range(len(order))}
        )

    return grouped.groupBy("graph_id").applyInPandas(
        run_dfs, schema="graph_id int, id long, pos long"
    )


def connected_components(edges: DataFrame, vertices: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation (the classic
    Pregel formulation): every vertex starts labelled with its own id; each
    superstep every vertex takes the min of its own and its neighbours'
    labels; converged when the global label sum stops changing (one cheap
    scalar aggregate per superstep — no full comparison join).

    Returns (graph_id, id, component) with component = min vertex id in the
    component.
    """
    adj = _partitioned_adj(edges)
    labels = vertices.select("graph_id", "id", F.col("id").alias("component"))
    prev_sum = None
    for i in range(max_iters):
        msgs = labels.join(adj, on=["graph_id", "id"]).select(
            "graph_id", F.col("nb").alias("id"), "component"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("graph_id", "id")
            .agg(F.min("component").alias("component"))
        )
        # Materialize every superstep: the convergence aggregate below would
        # otherwise recompute the un-checkpointed lineage, and the next
        # superstep would recompute it again.
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("component")).head()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    labels = labels.localCheckpoint(eager=True)
    adj.unpersist()
    return labels


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iterations: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank with damping 0.85, fixed iteration count, INTEGER
    fixed-point arithmetic (ranks scaled by 10^12, floor division) — so
    the result is bit-identical under any partitioning, any engine, any
    summation order (integer addition is associative; no FP drift).

    The classic Pregel formulation (GraphX paper): one join + groupBy-sum
    per superstep; contributions r(u)//deg(u) flow along edges.  Vertices
    with no in-edges settle at the teleport base.  Returns
    (graph_id, id, rank_scaled) with rank ~ rank_scaled / 10^12.
    """
    adj = _partitioned_adj(edges)
    deg = adj.groupBy("graph_id", "id").agg(F.count("*").alias("degree"))
    # Key-partitioned like adj (join of two key-partitioned sides), so each
    # superstep's contribution join shuffles only the ranks side.
    adj_deg = adj.join(deg, on=["graph_id", "id"]).persist()
    base = vertices.join(
        vertices.groupBy("graph_id").agg(F.count("*").alias("n_g")), on="graph_id"
    ).persist()

    ranks = base.select(
        "graph_id", "id", F.expr(f"CAST({scale} AS BIGINT) DIV n_g").alias("r")
    )
    for i in range(iterations):
        contrib = ranks.join(adj_deg, on=["graph_id", "id"]).select(
            "graph_id", F.col("nb").alias("id"), F.expr("r DIV degree").alias("c")
        )
        sums = contrib.groupBy("graph_id", "id").agg(F.sum("c").alias("s"))
        ranks = base.join(sums, on=["graph_id", "id"], how="left").select(
            "graph_id",
            "id",
            F.expr(
                f"CAST({15 * scale} AS BIGINT) DIV (100 * n_g)"
                " + (85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100"
            ).alias("r"),
        )
        if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            ranks = ranks.localCheckpoint(eager=True)
    ranks = ranks.select("graph_id", "id", F.col("r").alias("rank_scaled"))
    ranks = ranks.localCheckpoint(eager=True)
    adj_deg.unpersist()
    adj.unpersist()
    base.unpersist()
    return ranks


# BFS over one graph row, as one SQL expression: each ``aggregate`` step
# moves the frontier ``fr`` into the visited list ``vis`` (its level ``d``
# into ``lvl``) and steps along every edge leaving it.  ``array_except``
# dedupes the next frontier and drops what was already reached.  A graph
# reaches at most size(edges) + 1 vertices, so size(edges) + 1 steps always
# drain the frontier; the steps after that return ``acc`` as it is.  A
# NULL start matches no edge (``filter`` drops the NULL ``array_contains``).
_BFS_WALK = """aggregate(
    sequence(0, size(edges)),
    named_struct(
        'vis', CAST(array() AS array<bigint>), 'lvl', CAST(array() AS array<bigint>),
        'fr', array(start), 'd', CAST(0 AS bigint)),
    (acc, i) -> IF(size(acc.fr) = 0, acc, named_struct(
        'vis', concat(acc.vis, acc.fr),
        'lvl', concat(acc.lvl, array_repeat(acc.d, size(acc.fr))),
        'fr', array_except(
            transform(filter(edges, e -> array_contains(acc.fr, e.src)), e -> e.dst),
            concat(acc.vis, acc.fr)),
        'd', acc.d + 1)))"""

# Vertices with >= 2 distinct neighbours: in the sorted edge list a
# vertex's edges are adjacent, so some adjacent pair shares its ``src``
# with different ``dst``s.  Counting distinct neighbours keeps a duplicated
# edge from turning a leaf into a hub.  (Never ``array_distinct`` the edge
# structs: it is quadratic on structs.)
_HUBS = """filter(
    zip_with(sorted, slice(sorted, 2, size(sorted)),
        (a, b) -> IF(a.src = b.src AND a.dst != b.dst, a.src, NULL)),
    v -> v IS NOT NULL)"""

# The DFS leaf set: reached vertices that are not hubs, minus the start if
# it has an edge (the reference never reports a non-isolated start).
_LEAVES = """IF(coalesce(exists(edges, e -> e.src = start), false),
    array_remove(array_except(walk.vis, hubs), start),
    array_except(walk.vis, hubs))"""


def graph_rows(edges: DataFrame, starts: DataFrame) -> DataFrame:
    """The graph-row kernels' input built from an edge frame: each
    ``(graph_id, id)`` start left-joined to its graph, folded into one
    ``edges`` array by one ``groupBy(graph_id)`` as
    ``GraphCatalog.put_all`` folds a stored row.  Returns ``(graph_id,
    start, edges)``, ``edges`` NULL for a graph with no edge rows."""
    rows = edges.groupBy("graph_id").agg(
        F.collect_list(
            F.struct(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        ).alias("edges")
    )
    return starts.select("graph_id", F.col("id").cast("long").alias("start")).join(
        rows, on="graph_id", how="left"
    )


def _walk_graph_rows(rows: DataFrame, keys: list[str]) -> DataFrame:
    # a missing graph (NULL edges) is walked as an edgeless one
    no_edges = F.expr("CAST(array() AS array<struct<src:bigint,dst:bigint>>)")
    return rows.select(
        *keys, "start", F.coalesce("edges", no_edges).alias("edges")
    ).withColumn("walk", F.expr(_BFS_WALK))


def bfs_graph_row_arrays(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Row-local BFS for start rows that carry their whole graph, one
    output row per start row: Catalyst expressions on each row with no
    shuffle, no supersteps and no Python worker (the reference's secondary
    server loads one G-file and traverses it in-process,
    secondary_server.c:463-501).

    Args:
      rows: ``keys`` + (start, edges) — requests carrying their
        ``schemas.GRAPH_SCHEMA`` row's edges, or :func:`graph_rows`;
        ``edges`` is NULL for a graph that does not exist.
      keys: the columns that identify a start row, passed through.
    Returns:
      ``keys`` + (id array<bigint>, level array<bigint>) — the reached
      vertices in BFS order and their levels, ``[start]``/``[0]`` for a
      missing graph or a start outside the graph.  Requires each graph to
      fit in one row, which the catalog's storage shape already bounds.
    """
    return _walk_graph_rows(rows, keys).select(
        *keys, F.col("walk.vis").alias("id"), F.col("walk.lvl").alias("level")
    )


def bfs_graph_rows(rows: DataFrame, keys: list[str]) -> DataFrame:
    """:func:`bfs_graph_row_arrays` exploded: ``keys`` + (id, level), the
    same rows :func:`bfs` gives per start."""
    return bfs_graph_row_arrays(rows, keys).select(*keys, F.inline(F.arrays_zip("id", "level")))


def _walk_with_hubs(rows: DataFrame, keys: list[str]) -> DataFrame:
    return (
        _walk_graph_rows(rows, keys)
        .withColumn("sorted", F.array_sort("edges"))
        .withColumn("hubs", F.expr(_HUBS))
    )


def dfs_leaves_graph_row_arrays(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Row-local :func:`dfs_leaves` over the same input as
    :func:`bfs_graph_row_arrays`, one output row per start row: ``keys`` +
    (id array<bigint>, level), ``level`` NULL.  A graph with no leaf
    reachable from the start (a triangle) yields ``id = []``."""
    return _walk_with_hubs(rows, keys).select(
        *keys, F.expr(_LEAVES).alias("id"), F.lit(None).cast("array<bigint>").alias("level")
    )


def dfs_leaves_graph_rows(rows: DataFrame, keys: list[str]) -> DataFrame:
    """:func:`dfs_leaves_graph_row_arrays` exploded: ``keys`` + (id,
    level), ``level`` NULL; a start with no leaf yields no row."""
    # Explode the leaf expression, not the array form's ``id`` column: on
    # a column the optimizer infers ``size(id) > 0`` and pushes it below
    # the projection, which then walks every graph twice
    # (InferFiltersFromGenerate).
    return _walk_with_hubs(rows, keys).select(
        *keys, F.explode(F.expr(_LEAVES)).alias("id"), F.lit(None).cast("long").alias("level")
    )


def pagerank_fleet(
    edges: DataFrame,
    vertices: DataFrame,
    iterations: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """Fleet-mode PageRank: the cogrouped in-task twin of :func:`pagerank`
    for many small graphs: each graph's edge list and vertex set reach ONE
    task as Arrow batches, so the loop runs with no supersteps.
    The integer fixed-point recurrence is replayed verbatim with Python
    ints (arbitrary precision, same floor division), so results are
    BIT-IDENTICAL to the iterative-join kernel — pinned by the
    kernel-agreement property test."""

    def run_pr(edges_pdf: pd.DataFrame, verts_pdf: pd.DataFrame) -> pd.DataFrame:
        if verts_pdf.empty:
            return pd.DataFrame({"graph_id": [], "id": [], "rank_scaled": []})
        gid = int(verts_pdf["graph_id"].iloc[0])
        verts = [int(v) for v in verts_pdf["id"]]
        pairs = [(int(s), int(d)) for s, d in zip(edges_pdf["src"], edges_pdf["dst"])]
        deg: dict[int, int] = {}
        for s, _ in pairs:
            deg[s] = deg.get(s, 0) + 1
        n_g = len(verts)
        r = {v: scale // n_g for v in verts}
        for _ in range(iterations):
            sums: dict[int, int] = {}
            for s, d in pairs:
                if s in r:
                    sums[d] = sums.get(d, 0) + r[s] // deg[s]
            r = {
                v: (15 * scale) // (100 * n_g) + (85 * sums.get(v, 0)) // 100
                for v in verts
            }
        return pd.DataFrame(
            {"graph_id": gid, "id": list(r), "rank_scaled": list(r.values())}
        )

    return (
        edges.groupBy("graph_id")
        .cogroup(vertices.groupBy("graph_id"))
        .applyInPandas(run_pr, schema="graph_id int, id long, rank_scaled long")
    )


def connected_components_fleet(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Fleet-mode connected components: in-task union-find per graph
    (cogrouped Arrow batches), labels = min vertex id per component —
    identical semantics to the min-label-propagation kernel."""

    def run_cc(edges_pdf: pd.DataFrame, verts_pdf: pd.DataFrame) -> pd.DataFrame:
        if verts_pdf.empty:
            return pd.DataFrame({"graph_id": [], "id": [], "component": []})
        gid = int(verts_pdf["graph_id"].iloc[0])
        parent: dict[int, int] = {int(v): int(v) for v in verts_pdf["id"]}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d in zip(edges_pdf["src"], edges_pdf["dst"]):
            s, d = int(s), int(d)
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN root so the label is the component minimum
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        ids = list(parent)
        return pd.DataFrame(
            {"graph_id": gid, "id": ids, "component": [find(v) for v in ids]}
        )

    return (
        edges.groupBy("graph_id")
        .cogroup(vertices.groupBy("graph_id"))
        .applyInPandas(run_cc, schema="graph_id int, id long, component long")
    )


def sssp(
    edges: DataFrame,
    starts: DataFrame,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Weighted single-source (per graph: multi-source) shortest paths —
    BFS generalized from hop counts to NON-NEGATIVE INTEGER edge weights
    (integer so distances are bit-exact under any partitioning; scale real
    weights to fixed-point like :func:`pagerank` does ranks).

    Args:
      edges:  (graph_id, src, dst, w) with both directions materialized
              and w >= 0 (long).
      starts: (graph_id, id).
    Returns:
      (graph_id, id, dist) for every reachable vertex, dist = min total
      weight; starts at 0.

    The frontier-relaxation Bellman-Ford (delta-stepping's degenerate
    form): each superstep relaxes only edges out of vertices whose
    distance IMPROVED last superstep, so settled regions stop costing
    anything — on non-negative weights the improved set empties within
    V-1 supersteps (typically ~weighted diameter).  Same shuffle budget
    as :func:`bfs`: adjacency shuffled once into the persisted key
    partitioning, frontier broadcast while small, one equi-join + one
    min-aggregate per superstep."""
    adj = edges.select(
        "graph_id", F.col("src").alias("id"), F.col("dst").alias("nb"), F.col("w")
    )
    n_edges = adj.count()
    n_part = min(n_edges // _ADJ_ROWS_PER_PARTITION + 1, _ADJ_MAX_PARTITIONS)
    adj = adj.repartition(n_part, "graph_id", "id").persist()

    dist = (
        starts.select("graph_id", F.col("id").cast("long").alias("id"))
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    f_cnt = frontier.count()
    d_cnt = f_cnt
    while f_cnt > 0:
        f_side = F.broadcast(frontier) if f_cnt <= broadcast_threshold else frontier
        cand = (
            f_side.join(adj, on=["graph_id", "id"])
            .select(
                "graph_id",
                F.col("nb").alias("id"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("graph_id", "id")
            .agg(F.min("dist").alias("dist"))
        )
        cur = dist.select("graph_id", "id", F.col("dist").alias("_old"))
        c_side = F.broadcast(cur) if d_cnt <= broadcast_threshold else cur
        improved = (
            cand.join(c_side, on=["graph_id", "id"], how="left")
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("graph_id", "id", "dist")
            .localCheckpoint(eager=True)
        )
        f_cnt = improved.count()
        if f_cnt == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("graph_id", "id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        d_cnt = dist.count()
        frontier = improved
    adj.unpersist()
    return dist


def sssp_fleet(edges: DataFrame, starts: DataFrame) -> DataFrame:
    """Fleet-mode SSSP: per-graph Dijkstra (binary heap) in a cogrouped
    Arrow task — the many-tiny-graphs twin of :func:`sssp`, with no
    supersteps.  Python ints, so distances are exact
    and BIT-IDENTICAL to the iterative kernel (kernel-agreement property
    test)."""
    import heapq

    def run_sssp(edges_pdf: pd.DataFrame, starts_pdf: pd.DataFrame) -> pd.DataFrame:
        if starts_pdf.empty:
            return pd.DataFrame({"graph_id": [], "id": [], "dist": []})
        gid = int(starts_pdf["graph_id"].iloc[0])
        adj: dict[int, list[tuple[int, int]]] = {}
        for s, d, w in zip(edges_pdf["src"], edges_pdf["dst"], edges_pdf["w"]):
            adj.setdefault(int(s), []).append((int(d), int(w)))
        dist: dict[int, int] = {}
        heap = [(0, int(v)) for v in starts_pdf["id"]]
        heapq.heapify(heap)
        while heap:
            d, v = heapq.heappop(heap)
            if v in dist:
                continue
            dist[v] = d
            for nb, w in adj.get(v, ()):
                if nb not in dist:
                    heapq.heappush(heap, (d + w, nb))
        return pd.DataFrame(
            {"graph_id": gid, "id": list(dist), "dist": list(dist.values())}
        )

    return (
        edges.groupBy("graph_id")
        .cogroup(starts.groupBy("graph_id"))
        .applyInPandas(run_sssp, schema="graph_id int, id long, dist long")
    )


def toposort_levels(
    edges: DataFrame,
    max_iter: int = 1000,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Topological levels of a DAG: (graph_id, id, level) where level(v) =
    the LONGEST path from any root (a vertex with no incoming edge) — the
    dependency-scheduling order (every vertex's level exceeds all its
    predecessors'), which plain BFS level (shortest path) does not give on
    DAGs with reconverging paths.

    Edges are DIRECTED (src -> dst) and must form a DAG; an accidental
    cycle raises instead of spinning.

    Two kernels, dispatched by in-degree:

    - max in-degree <= 1 (a forest of chains/trees — CDC lineage chains,
      the order-chain fixture): POINTER DOUBLING — every vertex keeps
      (ptr, dist-to-ptr) and each round jumps ptr to ptr(ptr), doubling
      the collapsed distance, so a depth-d chain resolves in ceil(log2 d)
      rounds of one self-equijoin each.  Iteration count set by log of
      the depth, not the depth — the difference between 40 supersteps and
      6 at bench scale, and between 10^6 and 20 rounds on a
      million-long lineage chain at 100 TB.
    - general DAGs (reconverging paths => a vertex has many pointers, so
      doubling's state would explode): frontier relaxation — frontier_k =
      vertices ending some k-edge path from a root, final level folded
      with groupBy-max.  Same shuffle discipline as :func:`bfs`
      (once-shuffled persisted adjacency, broadcast frontier, per-step
      localCheckpoint); supersteps = longest path length.

    Kernel agreement on in-degree<=1 inputs is property-pinned in
    tests/test_traversal.py.
    """
    max_indeg_row = (
        edges.groupBy("graph_id", "dst").count().agg(F.max("count")).first()
    )
    max_indeg = max_indeg_row[0] or 0
    if max_indeg <= 1:
        return _toposort_pointer_doubling(
            edges, broadcast_threshold=broadcast_threshold
        )
    return _toposort_relax(edges, max_iter, broadcast_threshold)


def _toposort_pointer_doubling(
    edges: DataFrame,
    max_rounds: int = 63,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """(graph_id, id, level) for in-degree<=1 DAGs via pointer jumping.

    Invariant: dist(v) = path length from v to ptr(v) (to the root when
    ptr is null).  Init ptr=parent, dist=1 (roots: null, 0); each round
    dist += dist(ptr), ptr = ptr(ptr).  Any finite acyclic chain drains
    in <= 63 rounds (depth < 2^63); a surviving pointer after that is a
    cycle and raises.

    The lookup (target) side is the whole vertex state; while it fits the
    broadcast threshold each round is a broadcast hash join — zero
    shuffle — with a shuffle-HASH (not sort-merge) fallback above it.
    DRAINED rows (ptr resolved to null) leave the join's probe side but
    remain lookup targets — see :func:`_pointer_doubling_loop`."""
    parent = edges.select(
        "graph_id", F.col("dst").cast("long").alias("id"), F.col("src").cast("long").alias("ptr")
    )
    nodes = (
        edges.select("graph_id", F.col("src").cast("long").alias("id"))
        .union(edges.select("graph_id", F.col("dst").cast("long").alias("id")))
        .distinct()
    )
    state = nodes.join(parent, on=["graph_id", "id"], how="left").select(
        "graph_id",
        "id",
        "ptr",
        F.when(F.col("ptr").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("dist"),
    )
    out = _pointer_doubling_loop(
        state,
        payload="dist",
        merged_payload=(F.col("dist") + F.coalesce("t_dist", F.lit(0))),
        err_name="toposort_levels",
        max_rounds=max_rounds,
        broadcast_threshold=broadcast_threshold,
    )
    return out.select("graph_id", "id", F.col("dist").alias("level"))


def _pointer_doubling_loop(
    state: DataFrame,
    payload: str,
    merged_payload,
    err_name: str,
    max_rounds: int,
    broadcast_threshold: int,
) -> DataFrame:
    """Shared pointer-jumping loop over state (graph_id, id, ptr,
    ``payload``): each round every LIVE row (ptr != null) jumps
    ptr -> ptr(ptr) and folds its payload via ``merged_payload`` (an
    expression over the live row's columns and the jump target's t_*
    columns); rows whose pointer resolves to null are DRAINED — they
    stop flowing through the probe side of subsequent rounds (for
    uniform-depth forests most rows drain in the middle rounds, saving
    ~40% of joined rows end-to-end) but remain lookup targets, since a
    live pointer may land on them.

    Join strategy: broadcast of the full state below
    ``broadcast_threshold`` rows, else shuffle-HASH (hinted — the
    sort-merge default pays two sorts per round for slim 4-column rows;
    measured 11.5s vs 9.8s per sf1 chain-roots run).  A maintenance
    repartition to pre-align the target side was measured WORSE (27s:
    localCheckpoint materializes to an RDD scan with
    UnknownPartitioning, so Catalyst cannot reuse the exchange and the
    repartition is pure extra work — the experiment that killed the
    idea is in BENCH_SF1.md round 6)."""
    state = state.localCheckpoint(eager=True)
    n_state = state.count()
    shuffle_regime = n_state > broadcast_threshold
    done_parts = [state.filter(F.col("ptr").isNull())]
    live = state.filter(F.col("ptr").isNotNull())
    n_live = live.count()
    rounds = 0
    while n_live > 0:
        rounds += 1
        if rounds > max_rounds:
            raise ValueError(
                f"{err_name}: pointers alive after {max_rounds} doubling "
                "rounds — the edge set has a cycle"
            )
        # every t_* column renamed: a checkpointed self-join shares expr
        # IDs, and same-named columns in the condition resolve ambiguously
        full = functools.reduce(DataFrame.union, done_parts, live)
        target = full.select(
            F.col("graph_id").alias("t_gid"),
            F.col("id").alias("t_id"),
            F.col("ptr").alias("t_ptr"),
            F.col(payload).alias(f"t_{payload}"),
        )
        t_side = (
            target.hint("shuffle_hash") if shuffle_regime else F.broadcast(target)
        )
        new = (
            live.join(
                t_side,
                on=(F.col("graph_id") == F.col("t_gid"))
                & (F.col("ptr") == F.col("t_id")),
                how="left",
            )
            .select(
                "graph_id",
                "id",
                F.col("t_ptr").alias("ptr"),
                merged_payload.alias(payload),
            )
            .localCheckpoint(eager=True)
        )
        done_parts.append(new.filter(F.col("ptr").isNull()))
        live = new.filter(F.col("ptr").isNotNull())
        n_live = live.count()
    return functools.reduce(DataFrame.union, done_parts)


def _toposort_relax(
    edges: DataFrame,
    max_iter: int = 1000,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    # ids normalized to long exactly like the doubling kernel, so the
    # output schema does not depend on which kernel dispatch picked
    edges = edges.select(
        "graph_id", F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    adj = _partitioned_adj(edges)
    nodes = (
        edges.select("graph_id", F.col("src").alias("id"))
        .union(edges.select("graph_id", F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    has_in = edges.select("graph_id", F.col("dst").alias("id")).distinct()
    frontier = (
        nodes.join(has_in, on=["graph_id", "id"], how="left_anti")
        .withColumn("level", F.lit(0))
        .localCheckpoint(eager=True)
    )
    assigned = frontier
    f_cnt = frontier.count()
    level = 0
    while f_cnt > 0:
        level += 1
        if level > max_iter:
            adj.unpersist()
            raise ValueError(
                f"toposort_levels: frontier alive after {max_iter} supersteps — "
                "the edge set has a cycle (or raise max_iter for a deeper DAG)"
            )
        f_side = F.broadcast(frontier) if f_cnt <= broadcast_threshold else frontier
        frontier = (
            f_side.select("graph_id", "id")
            .join(adj, on=["graph_id", "id"])
            .select("graph_id", F.col("nb").alias("id"))
            .distinct()
            .withColumn("level", F.lit(level))
            .localCheckpoint(eager=True)
        )
        f_cnt = frontier.count()
        if f_cnt > 0:
            assigned = assigned.union(frontier)
            if level % _CHECKPOINT_EVERY == 0:
                assigned = assigned.localCheckpoint(eager=True)
    out = (
        assigned.groupBy("graph_id", "id")
        .agg(F.max("level").alias("level"))
        .localCheckpoint(eager=True)
    )
    adj.unpersist()
    # Every DAG vertex is reachable from some root, so a vertex the
    # frontier never assigned sits on (or behind) a cycle the drained
    # frontier simply never reached — without this check a DISCONNECTED
    # cycle would be silently omitted instead of raising like every
    # other cycle shape does.
    n_assigned = out.count()
    if n_assigned != n_nodes:
        raise ValueError(
            f"toposort_levels: {n_nodes - n_assigned} vertices unreachable "
            "from any root — the edge set has a cycle"
        )
    return out


def forest_roots(
    edges: DataFrame,
    max_rounds: int = 63,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """(graph_id, id, root) for every vertex of an in-degree<=1 edge set
    (a forest of chains/trees): root = the unique ancestor with no
    incoming edge — the distributed find() of union-find, by the same
    pointer-doubling kernel as :func:`_toposort_pointer_doubling`
    (ceil(log2 depth) self-join rounds).  The representative-lookup
    primitive under CDC lineage resolution ("which original record does
    this chain of amendments descend from"), survivorship, and
    chain-partitioned incremental processing.

    Roots map to themselves; vertices are exactly the edge endpoints
    (an isolated record with no edges has no row — trivially its own
    root).  Raises on a cycle (pointers never drain)."""
    parent = edges.select(
        "graph_id", F.col("dst").cast("long").alias("id"), F.col("src").cast("long").alias("ptr")
    )
    nodes = (
        edges.select("graph_id", F.col("src").cast("long").alias("id"))
        .union(edges.select("graph_id", F.col("dst").cast("long").alias("id")))
        .distinct()
    )
    state = nodes.join(parent, on=["graph_id", "id"], how="left").select(
        "graph_id",
        "id",
        "ptr",
        F.coalesce("ptr", "id").alias("root"),
    )
    out = _pointer_doubling_loop(
        state,
        payload="root",
        merged_payload=F.coalesce("t_root", "root"),
        err_name="forest_roots",
        max_rounds=max_rounds,
        broadcast_threshold=broadcast_threshold,
    )
    return out.select("graph_id", "id", "root")


def kcore(
    edges: DataFrame,
    k: int,
    max_iter: int | None = None,
) -> DataFrame:
    """K-CORE decomposition by iterative peeling: repeatedly drop
    vertices with degree < k until the fixpoint; return the surviving
    vertices with their degree INSIDE the core as ``(id, core_degree)``.

    ``edges`` must carry both directions of each undirected edge as
    ``(u, v)`` rows.  Each round is one semi-join restriction + one
    partial-agg degree count over the CURRENT subgraph — work shrinks
    monotonically as vertices peel, and the round count is the peeling
    depth of the graph (bounded by max degree layers, NOT |V|, on the
    dense-community graphs k-core targets; a chain is the adversarial
    case and peels in O(|V|/2) rounds — use the fleet kernel for
    path-shaped graphs).  ``localCheckpoint`` truncates the growing
    lineage each round, the same discipline as ``bfs``.

    The termination test is a count() comparison: keep ⊆ alive always
    holds, so equal counts imply the fixpoint — one cheap action per
    round instead of a subtract.

    ``max_iter`` None derives the round cap from the alive count taken
    before the first round: each round removes at least one vertex or
    reaches the fixpoint, so ``n_alive + 1`` rounds never fire before
    convergence (a deep-peeling path graph converges instead of dying on
    a fixed cap).  50 stays the floor, so a tiny graph keeps a loud
    runaway-bug detector.

    No reference citation: the reference's graph surface is 4 traversal
    ops (SURVEY.md §2.1); k-core is driver-mandated extension surface
    (graph analytics beyond parity, §2.3)."""
    alive = edges.select(F.col("u").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    n_alive = alive.count()
    if max_iter is None:
        max_iter = max(50, n_alive + 1)
    for _ in range(max_iter):
        sub = edges.join(alive.select(F.col("id").alias("u")), "u", "left_semi").join(
            alive.select(F.col("id").alias("v")), "v", "left_semi"
        )
        deg = sub.groupBy("u").agg(F.count("*").alias("core_degree"))
        keep = deg.filter(F.col("core_degree") >= k).localCheckpoint(eager=True)
        n_keep = keep.count()
        if n_keep == n_alive:
            return keep.select(F.col("u").alias("id"), "core_degree")
        alive = keep.select(F.col("u").alias("id"))
        n_alive = n_keep
        if n_alive == 0:
            return keep.select(F.col("u").alias("id"), "core_degree")
    raise RuntimeError(f"kcore: no fixpoint within {max_iter} rounds")


def kcore_fleet(edges: DataFrame, k: int) -> DataFrame:
    """In-task k-core: the whole graph peels inside ONE Arrow kernel via
    the linear-time bucket algorithm (Matula–Beck degeneracy peeling:
    maintain degrees, repeatedly delete any vertex whose degree dropped
    below k — a worklist, not global rounds), so peel DEPTH costs
    nothing.  The iterative :func:`kcore` pays ~1 s of job overhead per
    peeling round; on graphs that fit one task (the co-purchase graph at
    sf0.1 peels ~15 rounds) this kernel is an order of magnitude faster
    — whole graph in one task, no supersteps.  Requires the edge list to
    fit one task's memory; the co-purchase query calls it directly."""

    def peel(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict[int, list[int]] = {}
        for u, v in zip(pdf["u"], pdf["v"]):
            adj.setdefault(int(u), []).append(int(v))
        deg = {u: len(nbs) for u, nbs in adj.items()}
        dead = [u for u, d in deg.items() if d < k]
        while dead:
            u = dead.pop()
            if deg.get(u) is None:
                continue
            del deg[u]
            for nb in adj[u]:
                d = deg.get(nb)
                if d is not None:
                    deg[nb] = d - 1
                    if d - 1 == k - 1:
                        dead.append(nb)
        return pd.DataFrame(
            {"id": list(deg.keys()), "core_degree": list(deg.values())}
        )

    return (
        edges.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            lambda pdf: peel(pdf), schema="id long, core_degree long"
        )
    )


def pairs_to_canonical(
    pairs: DataFrame,
    ids: DataFrame,
    pair_cols: tuple[str, str],
    id_col: str,
) -> DataFrame:
    """SURVIVORSHIP from a near-dup pair list: symmetrize ``pairs``
    (columns ``pair_cols``) into a single-graph edge frame, run
    min-label connected components over the ``ids`` vertex frame
    (column ``id_col``), and return ``(id_col, canonical_id)`` — every
    id mapped to the smallest id in its cluster, singletons to
    themselves.  The shared tail of all three dedup modes (text
    MinHash, embedding cosine, image aHash): the pair generator is the
    mode-specific half, the cluster labeling is identical."""
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .select(
            F.lit(0).alias("graph_id"),
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
        )
    )
    vertices = ids.select(
        F.lit(0).alias("graph_id"), F.col(id_col).cast("long").alias("id")
    )
    cc = connected_components_fleet(edges, vertices)
    return cc.select(F.col("id").alias(id_col), F.col("component").alias("canonical_id"))
