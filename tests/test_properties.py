"""Property-based traversal tests (SURVEY.md §5.3): a fleet of seeded
random graphs runs through the DataFrame kernels in ONE multi-graph job,
and every graph's result is checked against a 20-line pure-Python
reference.  Properties:

- BFS level of v == shortest-path hop count (python BFS)
- BFS visited set == connected component of the start
- dfs_leaves == reachable vertices with degree <= 1, minus non-isolated
  start (the canonical semantics of SURVEY.md §2.1)
- connected_components labels == python union-find components
"""

from __future__ import annotations

import random
from collections import deque

import pyspark.sql.functions as F

from distributed_graph_db_c_spark.operators.traversal import (
    bfs,
    bfs_graph_rows,
    connected_components,
    dfs_leaves,
    dfs_leaves_graph_rows,
    graph_rows,
)
from distributed_graph_db_c_spark.schemas import GRAPH_EDGES_SCHEMA, GRAPH_VERTICES_SCHEMA

N_GRAPHS = 24
SEED = 20260813


def _random_fleet():
    """[(gid, n, edge_set, start)] — sizes 1..14, densities from empty to
    near-complete, start vertex random."""
    rng = random.Random(SEED)
    fleet = []
    for gid in range(N_GRAPHS):
        n = rng.randint(1, 14)
        p = rng.choice([0.0, 0.1, 0.25, 0.5, 0.9])
        edges = set()
        for a in range(1, n + 1):
            for b in range(a + 1, n + 1):
                if rng.random() < p:
                    edges.add((a, b))
        fleet.append((gid, n, edges, rng.randint(1, n)))
    return fleet


def _adj(n, edges):
    adj = {v: set() for v in range(1, n + 1)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def _py_bfs(n, edges, start):
    adj = _adj(n, edges)
    lvl = {start: 0}
    q = deque([start])
    while q:
        v = q.popleft()
        for nb in adj[v]:
            if nb not in lvl:
                lvl[nb] = lvl[v] + 1
                q.append(nb)
    return lvl


def _py_components(n, edges):
    adj = _adj(n, edges)
    comp = {}
    for v in range(1, n + 1):
        if v in comp:
            continue
        members = [v]
        seen = {v}
        q = deque([v])
        while q:
            u = q.popleft()
            for nb in adj[u]:
                if nb not in seen:
                    seen.add(nb)
                    members.append(nb)
                    q.append(nb)
        label = min(members)
        for m in members:
            comp[m] = label
    return comp


def _fleet_dfs(spark, fleet):
    edge_rows = [
        (gid, a, b)
        for gid, n, edges, _ in fleet
        for s, d in edges
        for a, b in ((s, d), (d, s))
    ]
    vert_rows = [(gid, v) for gid, n, _, _ in fleet for v in range(1, n + 1)]
    start_rows = [(gid, start) for gid, _, _, start in fleet]
    edges_df = spark.createDataFrame(edge_rows, GRAPH_EDGES_SCHEMA)
    verts_df = spark.createDataFrame(vert_rows, GRAPH_VERTICES_SCHEMA)
    starts_df = spark.createDataFrame(start_rows, "graph_id int, id long")
    return edges_df, verts_df, starts_df


def test_bfs_levels_and_reachability_random_fleet(spark):
    """Both BFS kernels, the iterative superstep one and the graph-row
    one over the folded edges, against the Python reference."""
    fleet = _random_fleet()
    edges_df, _, starts_df = _fleet_dfs(spark, fleet)
    want = {
        (gid, v): lvl
        for gid, n, edges, start in fleet
        for v, lvl in _py_bfs(n, edges, start).items()
    }
    rows = graph_rows(edges_df, starts_df)
    for name, out in (
        ("iterative", bfs(edges_df, starts_df)),
        ("graph rows", bfs_graph_rows(rows, ["graph_id"])),
    ):
        got = [((r["graph_id"], r["id"]), r["level"]) for r in out.collect()]
        assert len(got) == len(want), name  # each reached vertex once
        assert dict(got) == want, name


def test_dfs_leaves_random_fleet(spark):
    fleet = _random_fleet()
    edges_df, _, starts_df = _fleet_dfs(spark, fleet)
    rows = graph_rows(edges_df, starts_df)
    got_iter = [(r["graph_id"], r["id"]) for r in dfs_leaves(edges_df, starts_df).collect()]
    got_rows = [
        (r["graph_id"], r["id"]) for r in dfs_leaves_graph_rows(rows, ["graph_id"]).collect()
    ]
    want = set()
    for gid, n, edges, start in fleet:
        adj = _adj(n, edges)
        reach = _py_bfs(n, edges, start)
        for v in reach:
            deg = len(adj[v])
            if deg <= 1 and not (v == start and deg >= 1):
                want.add((gid, v))
    for name, got in (("iterative", got_iter), ("graph rows", got_rows)):
        assert len(got) == len(want), name  # each leaf once
        assert set(got) == want, name


def test_connected_components_random_fleet(spark):
    fleet = _random_fleet()
    edges_df, verts_df, _ = _fleet_dfs(spark, fleet)
    got = {
        (r["graph_id"], r["id"]): r["component"]
        for r in connected_components(edges_df, verts_df).collect()
    }
    want = {
        (gid, v): c
        for gid, n, edges, _ in fleet
        for v, c in _py_components(n, edges).items()
    }
    assert got == want


def test_pagerank_fleet_kernel_bit_identical_to_iterative(spark):
    """Integer fixed-point makes the two PageRank kernels comparable with
    == (no FP tolerance): same scaled ranks on a random fleet."""
    from distributed_graph_db_c_spark.operators.traversal import pagerank, pagerank_fleet

    fleet = _random_fleet()
    edges_df, verts_df, _ = _fleet_dfs(spark, fleet)
    got_fleet = {
        (r["graph_id"], r["id"]): r["rank_scaled"]
        for r in pagerank_fleet(edges_df, verts_df).collect()
    }
    got_iter = {
        (r["graph_id"], r["id"]): r["rank_scaled"]
        for r in pagerank(edges_df, verts_df).collect()
    }
    assert got_fleet == got_iter


def test_cc_fleet_kernel_agrees_with_iterative(spark):
    from distributed_graph_db_c_spark.operators.traversal import (
        connected_components,
        connected_components_fleet,
    )

    fleet = _random_fleet()
    edges_df, verts_df, _ = _fleet_dfs(spark, fleet)
    got_fleet = {
        (r["graph_id"], r["id"]): r["component"]
        for r in connected_components_fleet(edges_df, verts_df).collect()
    }
    got_iter = {
        (r["graph_id"], r["id"]): r["component"]
        for r in connected_components(edges_df, verts_df).collect()
    }
    assert got_fleet == got_iter


def _random_weighted_fleet():
    """Same fleet shapes, plus a non-negative integer weight per edge
    (same weight both directions)."""
    rng = random.Random(SEED + 1)
    fleet = []
    for gid, n, edges, start in _random_fleet():
        wedges = {(a, b): rng.randint(0, 9) for a, b in edges}
        fleet.append((gid, n, wedges, start))
    return fleet


def _py_dijkstra(n, wedges, start):
    import heapq

    adj = {v: [] for v in range(1, n + 1)}
    for (a, b), w in wedges.items():
        adj[a].append((b, w))
        adj[b].append((a, w))
    dist = {}
    heap = [(0, start)]
    while heap:
        d, v = heapq.heappop(heap)
        if v in dist:
            continue
        dist[v] = d
        for nb, w in adj[v]:
            if nb not in dist:
                heapq.heappush(heap, (d + w, nb))
    return dist


def _weighted_fleet_dfs(spark, fleet):
    edge_rows = [
        (gid, a, b, w)
        for gid, n, wedges, _ in fleet
        for (s, d), w in wedges.items()
        for a, b in ((s, d), (d, s))
    ]
    start_rows = [(gid, start) for gid, _, _, start in fleet]
    edges_df = spark.createDataFrame(
        edge_rows, "graph_id int, src long, dst long, w long"
    )
    starts_df = spark.createDataFrame(start_rows, "graph_id int, id long")
    return edges_df, starts_df


def test_sssp_random_weighted_fleet(spark):
    """sssp distances == python Dijkstra on every graph of a random
    weighted fleet (zero-weight edges included — min, not hop count)."""
    from distributed_graph_db_c_spark.operators.traversal import sssp

    fleet = _random_weighted_fleet()
    edges_df, starts_df = _weighted_fleet_dfs(spark, fleet)
    got = {
        (r["graph_id"], r["id"]): r["dist"]
        for r in sssp(edges_df, starts_df).collect()
    }
    want = {
        (gid, v): d
        for gid, n, wedges, start in fleet
        for v, d in _py_dijkstra(n, wedges, start).items()
    }
    assert got == want


def test_sssp_fleet_kernel_agrees_with_iterative(spark):
    from distributed_graph_db_c_spark.operators.traversal import sssp, sssp_fleet

    fleet = _random_weighted_fleet()
    edges_df, starts_df = _weighted_fleet_dfs(spark, fleet)
    got_fleet = {
        (r["graph_id"], r["id"]): r["dist"]
        for r in sssp_fleet(edges_df, starts_df).collect()
    }
    got_iter = {
        (r["graph_id"], r["id"]): r["dist"]
        for r in sssp(edges_df, starts_df).collect()
    }
    assert got_fleet == got_iter


def test_bm25_saturates_tf_and_normalizes_length(spark, tmp_path):
    """The two behaviors BM25 adds over TF-IDF, pinned directly: (a) tf
    SATURATION — 50 occurrences of a term score far less than 50x one
    occurrence; (b) LENGTH NORMALIZATION — the same tf in a much longer
    document scores lower.  Build a 4-doc corpus where tf-idf's raw
    tf-weighting would rank the spammy doc first, and assert the BM25
    gate ranks the concise relevant doc above it."""
    import pyspark.sql.functions as F

    from distributed_graph_db_c_spark.queries.text import text_bm25_topk

    filler = " ".join(["filler"] * 200)
    docs = [
        # doc 0: concise, one hit of two query terms
        (0, "data scan summary report", "en", "src0", 24),
        # doc 1: spammy — the term 50x inside 200 fillers
        (1, " ".join(["data"] * 50) + " " + filler, "en", "src0", 1200),
        # doc 2: same single hit as doc 0 but buried in 200 fillers
        (2, "data " + filler, "en", "src0", 1000),
        # doc 3: no query terms
        (3, filler, "en", "src0", 1000),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: r["score"]
        for r in text_bm25_topk(spark, sf_dir).collect()
    }
    assert 3 not in got  # no hits, no row
    # (a)+(b): concise two-term doc beats the 50x-spam doc and the
    # buried single hit; spam doc cannot reach 50x the buried doc
    assert got[0] > got[1] > got[2]
    assert got[1] < 3 * got[2], (
        f"tf saturation failed: 50x tf scored {got[1]} vs single-hit {got[2]}"
    )
