"""Golden-fixture tests for BFS / DFS-leaf / DFS-preorder / CC
(expectations hand-derived in FIXTURES.md §A)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.traversal import (
    bfs,
    connected_components,
    degrees,
    dfs_leaves,
    dfs_preorder,
)
from distributed_graph_db_c_spark.schemas import GRAPH_VERTICES_SCHEMA

# graph_id -> start -> {id: level}
BFS_EXPECTED = {
    1: {1: {1: 0, 2: 1, 3: 2, 4: 3, 5: 3}},
    4: {1: {1: 0}},
    12: {1: {1: 0, 2: 1, 3: 1, 4: 1, 5: 1}},
    13: {1: {1: 0, 2: 1, 3: 2, 4: 2, 5: 3, 7: 3, 6: 4}},
    14: {1: {1: 0}, 2: {2: 0}},
    15: {1: {1: 0}},
    16: {1: {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}},
}

# graph_id -> start -> expected leaf set (canonical op-3 semantics)
DFS_LEAVES_EXPECTED = {
    1: {1: {4, 5}},
    4: {1: {1}},
    12: {1: {2, 3, 4, 5}},
    13: {1: {4, 6, 7}},
    14: {1: {1}, 2: {2}},
    15: {1: {1}},
    16: {1: {6}},
}


def _starts(spark, pairs):
    return spark.createDataFrame(pairs, GRAPH_VERTICES_SCHEMA)


def test_bfs_all_fixtures_at_once(spark, fixture_graphs):
    edges, _ = fixture_graphs
    pairs = [(gid, start) for gid, d in BFS_EXPECTED.items() for start in d if start == 1]
    result = bfs(edges, _starts(spark, pairs))
    got = {}
    for r in result.collect():
        got.setdefault(r["graph_id"], {})[r["id"]] = r["level"]
    for gid, d in BFS_EXPECTED.items():
        assert got[gid] == d[1], f"graph {gid}"


def test_bfs_nonunit_start(spark, fixture_graphs):
    edges, _ = fixture_graphs
    result = bfs(edges, _starts(spark, [(14, 2)]))
    assert {(r["id"], r["level"]) for r in result.collect()} == {(2, 0)}
    # start=3 in G1: levels 3:0, {2,4,5}:1, 1:2
    result = bfs(edges, _starts(spark, [(1, 3)]))
    got = {r["id"]: r["level"] for r in result.collect()}
    assert got == {3: 0, 2: 1, 4: 1, 5: 1, 1: 2}


def test_dfs_leaves_all_fixtures(spark, fixture_graphs):
    edges, _ = fixture_graphs
    pairs = [(gid, 1) for gid in DFS_LEAVES_EXPECTED]
    result = dfs_leaves(edges, _starts(spark, pairs))
    got = {}
    for r in result.collect():
        got.setdefault(r["graph_id"], set()).add(r["id"])
    for gid, d in DFS_LEAVES_EXPECTED.items():
        assert got.get(gid, set()) == d[1], f"graph {gid}"


def test_dfs_leaves_isolated_vs_degree1_start(spark, fixture_graphs):
    edges, _ = fixture_graphs
    # G14 start 2 (isolated): start IS a leaf.
    result = dfs_leaves(edges, _starts(spark, [(14, 2)]))
    assert {r["id"] for r in result.collect()} == {2}
    # G16 start 1 (degree 1, non-isolated): start NOT a leaf; only far end.
    result = dfs_leaves(edges, _starts(spark, [(16, 1)]))
    assert {r["id"] for r in result.collect()} == {6}


def test_dfs_preorder_deterministic(spark, fixture_graphs):
    edges, _ = fixture_graphs
    result = dfs_preorder(edges, _starts(spark, [(1, 1)]))
    order = [r["id"] for r in result.orderBy("pos").collect()]
    # ascending-neighbour canonical preorder on G1 from 1: 1,2,3,4,5
    assert order == [1, 2, 3, 4, 5]
    result = dfs_preorder(edges, _starts(spark, [(13, 1)]))
    order = [r["id"] for r in result.orderBy("pos").collect()]
    # G13 edges: 1-2, 2-3, 2-4, 3-5, 3-7, 5-6; preorder: 1,2,3,5,6,7,4
    assert order == [1, 2, 3, 5, 6, 7, 4]


def test_dfs_preorder_isolated_start(spark, fixture_graphs):
    edges, _ = fixture_graphs
    result = dfs_preorder(edges, _starts(spark, [(14, 2)]))
    assert [(r["id"], r["pos"]) for r in result.collect()] == [(2, 0)]


def test_degrees(spark, fixture_graphs):
    edges, _ = fixture_graphs
    got = {
        (r["graph_id"], r["id"]): r["degree"]
        for r in degrees(edges).filter(F.col("graph_id") == 13).collect()
    }
    assert got == {(13, 1): 1, (13, 2): 3, (13, 3): 3, (13, 4): 1, (13, 5): 2, (13, 6): 1, (13, 7): 1}


def test_connected_components(spark, fixture_graphs):
    edges, vertices = fixture_graphs
    labels = connected_components(edges, vertices)
    # G14 (edgeless, 3 vertices) -> 3 components
    g14 = {r["id"]: r["component"] for r in labels.filter(F.col("graph_id") == 14).collect()}
    assert g14 == {1: 1, 2: 2, 3: 3}
    # G1 connected -> all component 1
    g1 = {r["component"] for r in labels.filter(F.col("graph_id") == 1).collect()}
    assert g1 == {1}


def test_toposort_levels_diamond_vs_bfs(spark):
    """Reconverging diamond + tail: 1->2->4->5 and 1->3->4; BFS gives
    node 4 level 2 either way, but TOPO level must be the LONGEST path
    (still 2 here) and node 5 gets 3; add a shortcut 1->4 — longest path
    keeps 4 at level 2 while BFS would pull it to 1."""
    from distributed_graph_db_c_spark.operators.traversal import toposort_levels

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 1, 3), (0, 2, 4), (0, 3, 4), (0, 4, 5), (0, 1, 4)],
        "graph_id long, src long, dst long",
    )
    got = {r["id"]: r["level"] for r in toposort_levels(edges).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_toposort_levels_cycle_raises(spark):
    from distributed_graph_db_c_spark.operators.traversal import toposort_levels

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 3), (0, 3, 1), (0, 9, 1)],
        "graph_id long, src long, dst long",
    )
    with pytest.raises(ValueError, match="cycle"):
        toposort_levels(edges, max_iter=20)


def test_toposort_forest_matches_chain_position(spark):
    """On a forest of paths (the gate's shape) every node's topo level is
    its position in the chain."""
    from distributed_graph_db_c_spark.operators.traversal import toposort_levels

    rows = [(0, c * 100 + i, c * 100 + i + 1) for c in range(3) for i in range(4)]
    edges = spark.createDataFrame(rows, "graph_id long, src long, dst long")
    got = {r["id"]: r["level"] for r in toposort_levels(edges).collect()}
    assert got == {c * 100 + i: i for c in range(3) for i in range(5)}


def test_toposort_kernel_agreement_on_forest(spark):
    """In-degree<=1 inputs may route to either kernel: pointer doubling
    and frontier relaxation must agree exactly (a random 2-tree forest)."""
    import random

    from distributed_graph_db_c_spark.operators.traversal import (
        _toposort_pointer_doubling,
        _toposort_relax,
    )

    rng = random.Random(7)
    rows = []
    for g in range(2):
        nxt = 1
        # random trees: each new node attaches to a random existing node
        nodes = [0]
        for _ in range(40):
            parent = rng.choice(nodes)
            rows.append((g, parent, nxt))
            nodes.append(nxt)
            nxt += 1
    edges = spark.createDataFrame(rows, "graph_id long, src long, dst long")
    a = {(r["graph_id"], r["id"]): r["level"] for r in _toposort_pointer_doubling(edges).collect()}
    b = {(r["graph_id"], r["id"]): r["level"] for r in _toposort_relax(edges).collect()}
    assert a == b and len(a) == 82


def test_toposort_doubling_cycle_raises(spark):
    from distributed_graph_db_c_spark.operators.traversal import (
        _toposort_pointer_doubling,
    )

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 3), (0, 3, 1)], "graph_id long, src long, dst long"
    )
    with pytest.raises(ValueError, match="cycle"):
        _toposort_pointer_doubling(edges, max_rounds=8)


def test_forest_roots_trees_and_selfmap(spark):
    """Random forest: every node resolves to its tree's root; roots map
    to themselves; matches a python ancestor walk."""
    import random

    from distributed_graph_db_c_spark.operators.traversal import forest_roots

    rng = random.Random(13)
    parent = {}
    rows = []
    nxt = 0
    for _ in range(3):  # 3 trees
        root = nxt
        nodes = [root]
        nxt += 1
        for _ in range(25):
            p = rng.choice(nodes)
            rows.append((0, p, nxt))
            parent[nxt] = p
            nodes.append(nxt)
            nxt += 1
    edges = spark.createDataFrame(rows, "graph_id long, src long, dst long")

    def walk(v):
        while v in parent:
            v = parent[v]
        return v

    got = {r["id"]: r["root"] for r in forest_roots(edges).collect()}
    assert got == {v: walk(v) for v in range(nxt)}


def test_forest_roots_cycle_raises(spark):
    from distributed_graph_db_c_spark.operators.traversal import forest_roots

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 1)], "graph_id long, src long, dst long"
    )
    with pytest.raises(ValueError, match="cycle"):
        forest_roots(edges, max_rounds=6)


def test_toposort_relax_disconnected_cycle_raises(spark):
    """A cycle NOT reachable from any root must still raise in the
    frontier-relaxation kernel — the frontier drains normally without
    ever visiting it, so the completeness check is what catches it."""
    from distributed_graph_db_c_spark.operators.traversal import _toposort_relax

    edges = spark.createDataFrame(
        # diamond DAG (max in-degree 2 shapes dispatch) + detached 2-cycle
        [(0, 1, 2), (0, 1, 3), (0, 2, 4), (0, 3, 4), (0, 7, 8), (0, 8, 7)],
        "graph_id long, src long, dst long",
    )
    with pytest.raises(ValueError, match="cycle"):
        _toposort_relax(edges, max_iter=50)


def test_pointer_doubling_shuffle_regime_agrees_with_broadcast(spark):
    """The shuffle regime (state kept hash-partitioned on (graph_id, id),
    shuffle-hash jump joins) must produce EXACTLY the broadcast regime's
    answers — broadcast_threshold=0 forces the shuffle path at test scale,
    so the round-6 partitioning rework is exercised without sf1."""
    import random

    from distributed_graph_db_c_spark.operators.traversal import (
        _toposort_pointer_doubling,
        forest_roots,
    )

    rng = random.Random(21)
    rows = []
    for g in range(2):
        nodes = [0]
        for nxt in range(1, 60):
            rows.append((g, rng.choice(nodes), nxt))
            nodes.append(nxt)
    edges = spark.createDataFrame(rows, "graph_id long, src long, dst long")

    topo_b = {(r["graph_id"], r["id"]): r["level"]
              for r in _toposort_pointer_doubling(edges).collect()}
    topo_s = {(r["graph_id"], r["id"]): r["level"]
              for r in _toposort_pointer_doubling(edges, broadcast_threshold=0).collect()}
    assert topo_s == topo_b and len(topo_s) == 120

    roots_b = {(r["graph_id"], r["id"]): r["root"]
               for r in forest_roots(edges).collect()}
    roots_s = {(r["graph_id"], r["id"]): r["root"]
               for r in forest_roots(edges, broadcast_threshold=0).collect()}
    assert roots_s == roots_b and len(roots_s) == 120


def _py_kcore(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peeler: iterate drop-degree-<k to fixpoint; return
    {vertex: core_degree}.  edges = undirected pair list (one direction)."""
    und: dict[int, set[int]] = {}
    for a, b in edges:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    alive = set(und)
    while True:
        drop = {u for u in alive if len(und[u] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {u: len(und[u] & alive) for u in alive}


def test_kcore_matches_reference_peeler(spark):
    """Distributed peeling vs the in-memory reference on deterministic
    pseudo-random graphs, including a k that empties the core and the
    slow-peeling chain shape."""
    import hashlib

    import pyspark.sql.functions as F

    from distributed_graph_db_c_spark.operators.traversal import kcore

    def h(i: int, j: int) -> int:
        return int.from_bytes(hashlib.md5(f"{i}:{j}".encode()).digest()[:4], "big")

    # pseudo-random graph: 120 vertices, ~480 deterministic edges
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for t in range(480)
            for a, b in [(h(t, 0) % 120, h(t, 1) % 120)]
            if a != b
        }
    )
    chain = [(i, i + 1) for i in range(20)]
    from distributed_graph_db_c_spark.operators.traversal import kcore_fleet

    for elist, k in [(edges, 2), (edges, 3), (edges, 5), (chain, 2)]:
        ref = _py_kcore(elist, k)
        df = spark.createDataFrame(elist, "u int, v int")
        und = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # kernel agreement: distributed per-round peeling AND the
        # in-task bucket peel must both match the reference
        got = {r["id"]: r["core_degree"] for r in kcore(und, k=k).collect()}
        assert got == ref, ("iterative", k, len(got), len(ref))
        fleet = {
            r["id"]: r["core_degree"] for r in kcore_fleet(und, k=k).collect()
        }
        assert fleet == ref, ("fleet", k, len(fleet), len(ref))


def test_kcore_auto_threads_max_iter_to_distributed_path(spark):
    """ADVICE r6: a deep-peeling chain must CONVERGE through the
    distributed kcore loop, not die on a fixed 50-round cap.  A
    120-vertex path graph peels ~60 rounds at k=2 (both endpoints shed
    each round); with no ``max_iter`` the cap derives from the alive
    count, so kcore must return the correct (empty — a path has no
    2-core) result instead of raising."""
    from distributed_graph_db_c_spark.operators.traversal import kcore

    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    und = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    assert kcore(und, k=2).collect() == []  # a path graph has no 2-core
    # an explicit max_iter still applies (and a too-small one raises loudly)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore(und, k=2, max_iter=3)


def test_rel_array_hof_null_quantities_match_oracle_semantics(spark):
    """ADVICE r6 hardening: on NULLABLE quantities the gate's n_items
    must count rows (COUNT(*)), max must ignore nulls, and the big-sum
    must skip null-derived terms — the oracle's semantics.  Construct a
    3-row group with one NULL and check all three directly."""
    import pyspark.sql.functions as F

    li = spark.createDataFrame(
        [(1, 30.0), (1, None), (1, 10.0), (2, None)],
        "l_orderkey long, l_quantity double",
    )
    qtys = F.array_sort(F.collect_list(F.col("l_quantity"))).alias("qtys")
    per_order = li.groupBy("l_orderkey").agg(
        qtys, F.count("*").cast("long").alias("n_items")
    )
    out = {
        r["l_orderkey"]: r
        for r in per_order.select(
            "l_orderkey",
            "n_items",
            F.try_element_at("qtys", F.lit(-1)).alias("max_qty"),
            F.aggregate(
                F.filter(
                    F.transform("qtys", lambda x: x * F.lit(2.0)),
                    lambda x: x > F.lit(50.0),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("big_doubled_sum"),
        ).collect()
    }
    assert out[1]["n_items"] == 3  # COUNT(*) includes the null row
    assert out[1]["max_qty"] == 30.0  # null never wins the max
    assert out[1]["big_doubled_sum"] == 60.0  # only 30*2 > 50
    assert out[2]["n_items"] == 1 and out[2]["max_qty"] is None
    assert out[2]["big_doubled_sum"] == 0.0
