"""G-format codec round-trip + GraphCatalog (reference ops 1/2) tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.catalog import GraphCatalog
from distributed_graph_db_c_spark.sources.gformat import (
    matrix_to_edges,
    read_gformat,
    read_gformat_dir,
    write_gformat,
)

# G1-shaped matrix (path + branch: 1-2, 2-3, 3-4, 3-5), FIXTURES.md §A.
G1_MATRIX = [
    [0, 1, 0, 0, 0],
    [1, 0, 1, 0, 0],
    [0, 1, 0, 1, 1],
    [0, 0, 1, 0, 0],
    [0, 0, 1, 0, 0],
]


def _payload(matrix):
    """(vertices, edges) lists of a 0/1 matrix, the ``GraphCatalog.put``
    payload: 1-based ids, every set cell an edge (both directions for a
    symmetric matrix)."""
    n = len(matrix)
    edges = [(i + 1, j + 1) for i in range(n) for j in range(n) if matrix[i][j] == 1]
    return list(range(1, n + 1)), edges


def _write_matrix_file(path, matrix):
    with open(path, "w") as f:
        f.write(f"{len(matrix)}\n")
        for row in matrix:
            f.write(" ".join(str(c) for c in row) + "\n")


def test_read_gformat(spark, tmp_path):
    p = str(tmp_path / "G1.txt")
    _write_matrix_file(p, G1_MATRIX)
    edges, vertices = read_gformat(spark, p, graph_id=1)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    expected = {(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (3, 5), (5, 3)}
    # fixture 3-5 edge: matrix has (3,5),(5,3),(4,3)... derive from matrix directly
    expected = {
        (i + 1, j + 1)
        for i in range(5)
        for j in range(5)
        if G1_MATRIX[i][j] == 1
    }
    assert got == expected
    assert {r["id"] for r in vertices.collect()} == {1, 2, 3, 4, 5}


def test_read_gformat_edgeless(spark, tmp_path):
    p = str(tmp_path / "G14.txt")
    _write_matrix_file(p, [[0] * 3 for _ in range(3)])
    edges, vertices = read_gformat(spark, p, graph_id=14)
    assert edges.count() == 0
    assert vertices.count() == 3


def test_matrix_roundtrip(spark, tmp_path):
    edges, vertices = matrix_to_edges(spark, G1_MATRIX, graph_id=1)
    out = str(tmp_path / "G1_out.txt")
    write_gformat(edges, vertices, 1, out)
    with open(out) as f:
        lines = [l.strip() for l in f if l.strip()]
    assert lines[0] == "5"
    got = [[int(c) for c in l.split()] for l in lines[1:]]
    assert got == G1_MATRIX


def test_read_gformat_dir_bulk_ingest(spark, tmp_path):
    """The reference's database bootstrap: a directory of G<i>.txt files
    (primary_server.c:49-59 naming) ingested in ONE call, graph identity
    from the filename; traversal results identical to per-file ingest."""
    from distributed_graph_db_c_spark.operators.traversal import (
        bfs,
        dfs_leaves_graph_rows,
        graph_rows,
    )

    gdir = tmp_path / "db"
    gdir.mkdir()
    _write_matrix_file(str(gdir / "G1.txt"), G1_MATRIX)
    _write_matrix_file(str(gdir / "G14.txt"), [[0] * 3 for _ in range(3)])  # edgeless
    chain4 = [
        [0, 1, 0, 0],
        [1, 0, 1, 0],
        [0, 1, 0, 1],
        [0, 0, 1, 0],
    ]
    _write_matrix_file(str(gdir / "G16.txt"), chain4)
    (gdir / "notes.md").write_text("not a graph")  # must be ignored by the glob

    edges, vertices = read_gformat_dir(spark, str(gdir))
    cat = GraphCatalog(spark, str(tmp_path / "catalog_dir"))
    cat.put_all(edges, vertices)

    assert cat.graph_ids() == [1, 14, 16]
    assert cat.edges(14).count() == 0
    assert cat.vertices(14).count() == 3
    # per-file reader agreement on every graph
    for gid, fname in [(1, "G1.txt"), (14, "G14.txt"), (16, "G16.txt")]:
        e_one, v_one = read_gformat(spark, str(gdir / fname), graph_id=gid)
        assert {(r["src"], r["dst"]) for r in cat.edges(gid).collect()} == {
            (r["src"], r["dst"]) for r in e_one.collect()
        }
        assert {r["id"] for r in cat.vertices(gid).collect()} == {
            r["id"] for r in v_one.collect()
        }

    # golden traversals on the bulk-ingested catalog (FIXTURES.md §A):
    # G1 BFS from 1: levels 1:0, 2:1, 3:2, 4:3, 5:3
    start = spark.createDataFrame([(1, 1)], "graph_id int, id long")
    levels = {r["id"]: r["level"] for r in bfs(cat.edges(1), start).collect()}
    assert levels == {1: 0, 2: 1, 3: 2, 4: 3, 5: 3}
    # G1 DFS leaves from 1: degree<=1 reachable, non-isolated start excluded
    rows = graph_rows(cat.edges(1), start)
    leaves = {r["id"] for r in dfs_leaves_graph_rows(rows, ["graph_id"]).collect()}
    assert leaves == {4, 5}


def test_put_all_edgeless_replacement(spark, tmp_path):
    """Replacing a graph with an edgeless version must not leave its old
    edges behind, through ``put`` and through ``put_all`` (an edgeless
    graph has no edge rows, so its row must still carry ``edges = []``)."""
    cat = GraphCatalog(spark, str(tmp_path / "catalog_empty"))
    cat.put([(1, *_payload(G1_MATRIX))])
    assert cat.edges(1).count() == 8
    cat.put([(1, *_payload([[0] * 3 for _ in range(3)]))])
    assert cat.edges(1).count() == 0
    assert cat.vertices(1).count() == 3

    e1, v1 = matrix_to_edges(spark, G1_MATRIX, graph_id=2)
    cat.put_all(e1, v1)
    assert cat.edges(2).count() == 8
    empty_e, v_small = matrix_to_edges(spark, [[0] * 3 for _ in range(3)], graph_id=2)
    cat.put_all(empty_e, v_small)
    assert cat.edges(2).count() == 0
    assert cat.vertices(2).count() == 3
    assert cat.graph_ids() == [1, 2]


def test_catalog_add_modify_isolation(spark, tmp_path):
    """Reference ops 1/2: add = create, modify = full replace; writes to one
    graph never disturb another (per-file writer locks -> partition-level
    overwrite, SURVEY.md §2.1).  Every write path leaves one dataset with
    one ``graph_id=K`` directory per graph holding one parquet file (the
    reference's one G-file per graph)."""
    import os

    root = tmp_path / "catalog"
    cat = GraphCatalog(spark, str(root))
    cat.put([(1, *_payload(G1_MATRIX))])
    star = [
        [0, 1, 1, 1],
        [1, 0, 0, 0],
        [1, 0, 0, 0],
        [1, 0, 0, 0],
    ]
    cat.put([(2, *_payload(star))])
    assert cat.graph_ids() == [1, 2]
    assert cat.edges(1).count() == 8
    assert cat.edges(2).count() == 6

    # op 2 "modify" = full replace of graph 1; graph 2 untouched.
    tri = [
        [0, 1, 1],
        [1, 0, 1],
        [1, 1, 0],
    ]
    cat.put([(1, *_payload(tri))])
    assert cat.edges(1).count() == 6
    assert cat.vertices(1).count() == 3
    assert cat.edges(2).count() == 6  # isolation

    # partition pruning visible in the physical plan for single-graph reads
    plan = cat.edges(1)._jdf.queryExecution().executedPlan().toString()
    assert "graph_id" in plan

    # layout after put_all (bulk add of 3) and one put of two graphs (modify
    # 2, add an edgeless 4)
    e3, v3 = matrix_to_edges(spark, star, graph_id=3)
    cat.put_all(e3, v3)
    cat.put([(2, *_payload(tri)), (4, *_payload([[0] * 3 for _ in range(3)]))])
    assert cat.graph_ids() == [1, 2, 3, 4]
    assert cat.edges(4).count() == 0
    assert cat.vertices(4).count() == 3
    entries = sorted(p.name for p in root.iterdir() if not p.name.startswith(("_", ".")))
    assert entries == [f"graph_id={k}" for k in (1, 2, 3, 4)]
    for name in entries:
        files = [f for f in os.listdir(root / name) if f.endswith(".parquet")]
        assert len(files) == 1, (name, files)


def test_catalog_isolation_in_static_overwrite_session(spark, tmp_path):
    """A session built elsewhere may keep Spark's default STATIC partition
    overwrite mode; a write must still replace only its own graphs."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        cat = GraphCatalog(spark, str(tmp_path / "catalog_static"))
        cat.put([(1, *_payload(G1_MATRIX))])
        e2, v2 = matrix_to_edges(spark, G1_MATRIX, graph_id=2)
        cat.put_all(e2, v2)
        cat.put([(3, [1], [])])
        assert cat.graph_ids() == [1, 2, 3]
        assert cat.edges(1).count() == cat.edges(2).count() == 8
    finally:
        spark.conf.set(key, prev)


def _catalog_rows(cat):
    """Everything the catalog's readers return, order-free: graph rows,
    edge and vertex views, graph ids and the driver-read stored edges."""
    ids = cat.graph_ids()
    return {
        "graphs": sorted(
            (r["graph_id"], sorted(r["vertices"]), sorted((e["src"], e["dst"]) for e in r["edges"]))
            for r in cat.graphs().collect()
        ),
        "edges": sorted(tuple(r) for r in cat.edges().collect()),
        "vertices": sorted(tuple(r) for r in cat.vertices().collect()),
        "graph_ids": ids,
        "stored_edges": {
            gid: sorted((e["src"], e["dst"]) for e in edges[0].as_py())
            for gid, edges in cat.stored_edges(ids).items()
        },
    }


def test_put_failure_replaces_no_graph(spark, tmp_path, monkeypatch):
    """A ``put`` that fails leaves the catalog as it was: a payload Arrow
    cannot type raises before anything is written, a write that fails on
    a later graph replaces none of the graphs staged before it, and no
    ``.put-*`` staging directory is left behind."""
    import pyarrow as pa

    from distributed_graph_db_c_spark import catalog as catalog_mod

    root = tmp_path / "catalog"
    cat = GraphCatalog(spark, str(root))
    cat.put([(1, *_payload(G1_MATRIX)), (2, [1], [])])
    before = _catalog_rows(cat)
    tri = _payload([[0, 1, 1], [1, 0, 1], [1, 1, 0]])

    with pytest.raises(pa.ArrowInvalid, match="convert 'x'"):
        cat.put([(1, *tri), (2, ["x"], [])])
    # GRAPH_SCHEMA's fields are non-nullable at every depth
    for bad in [(None, [1], []), (2, [1, None], []), (2, [1], [(1, None)]), (2, [1], [None])]:
        with pytest.raises(ValueError, match="null"):
            cat.put([(1, *tri), bad])

    write = catalog_mod.pq.write_table
    calls = []

    def failing_write(table, path, **kw):
        calls.append(path)
        if len(calls) == 2:
            raise OSError("disk full")
        write(table, path, **kw)

    monkeypatch.setattr(catalog_mod.pq, "write_table", failing_write)
    with pytest.raises(OSError, match="disk full"):
        cat.put([(1, *tri), (2, *tri), (3, *tri)])
    monkeypatch.undo()

    assert len(calls) == 2
    assert not [p.name for p in root.iterdir() if p.name.startswith(".put-")]
    assert _catalog_rows(cat) == before


def test_put_replaces_put_all_graph_identically(spark, tmp_path):
    """A graph bulk-written by ``put_all`` (a Spark job) and replaced by
    ``put`` with the same payload (a driver-side ``pyarrow`` write) reads
    back the same rows through every reader."""
    star = [[0, 1, 1, 1], [1, 0, 0, 0], [1, 0, 0, 0], [1, 0, 0, 0]]
    graphs = {1: G1_MATRIX, 2: star, 3: [[0] * 3 for _ in range(3)]}
    cat = GraphCatalog(spark, str(tmp_path / "catalog"))
    for gid, m in graphs.items():
        cat.put_all(*matrix_to_edges(spark, m, graph_id=gid))
    spark_written = _catalog_rows(cat)
    assert spark_written["graph_ids"] == [1, 2, 3]
    cat.put([(gid, *_payload(m)) for gid, m in graphs.items()])
    assert _catalog_rows(cat) == spark_written


def test_catalog_drop(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path / "catalog2"))
    cat.put([(7, *_payload(G1_MATRIX))])
    assert cat.graph_ids() == [7]
    cat.drop(7)
    assert cat.graph_ids() == []


def test_read_gformat_dir_random_fleet_property(spark, tmp_path):
    """Seeded random fleet: N matrices of mixed sizes/densities written as
    G<i>.txt; the single-call directory read must reproduce every matrix's
    edge set and vertex range exactly (including edgeless and 1-node
    graphs)."""
    import random

    rng = random.Random(20260813)
    gdir = tmp_path / "fleetdb"
    gdir.mkdir()
    expected = {}
    for gid in [1, 3, 7, 12, 14, 20]:
        n = rng.randint(1, 12)
        p = rng.choice([0.0, 0.2, 0.6])
        m = [[0] * n for _ in range(n)]
        for a in range(n):
            for b in range(a + 1, n):
                if rng.random() < p:
                    m[a][b] = m[b][a] = 1
        _write_matrix_file(str(gdir / f"G{gid}.txt"), m)
        expected[gid] = (
            n,
            {
                (i + 1, j + 1)
                for i in range(n)
                for j in range(n)
                if m[i][j] == 1
            },
        )

    edges, vertices = read_gformat_dir(spark, str(gdir))
    edge_rows = edges.collect()
    vert_rows = vertices.collect()
    got_edges = {}
    for r in edge_rows:
        got_edges.setdefault(r["graph_id"], set()).add((r["src"], r["dst"]))
    got_verts = {}
    for r in vert_rows:
        got_verts.setdefault(r["graph_id"], set()).add(r["id"])
    assert set(got_verts) == set(expected)
    for gid, (n, eset) in expected.items():
        assert got_verts[gid] == set(range(1, n + 1)), f"G{gid} vertices"
        assert got_edges.get(gid, set()) == eset, f"G{gid} edges"


def test_write_gformat_dir_roundtrip(spark, tmp_path):
    """Catalog -> directory export -> directory re-ingest reproduces every
    graph exactly (the full codec round trip over multiple graphs)."""
    from distributed_graph_db_c_spark.sources.gformat import write_gformat_dir

    cat = GraphCatalog(spark, str(tmp_path / "cat_export"))
    star = [
        [0, 1, 1, 1],
        [1, 0, 0, 0],
        [1, 0, 0, 0],
        [1, 0, 0, 0],
    ]
    for gid, m in [(1, G1_MATRIX), (2, star), (14, [[0] * 3 for _ in range(3)])]:
        cat.put([(gid, *_payload(m))])

    out = tmp_path / "export"
    gids = write_gformat_dir(cat.edges(), cat.vertices(), str(out))
    assert gids == [1, 2, 14]
    assert sorted(p.name for p in out.iterdir()) == ["G1.txt", "G14.txt", "G2.txt"]

    edges2, verts2 = read_gformat_dir(spark, str(out))
    for gid in gids:
        assert {
            (r["src"], r["dst"]) for r in edges2.filter(F.col("graph_id") == gid).collect()
        } == {(r["src"], r["dst"]) for r in cat.edges(gid).collect()}, f"G{gid}"
        assert {
            r["id"] for r in verts2.filter(F.col("graph_id") == gid).collect()
        } == {r["id"] for r in cat.vertices(gid).collect()}, f"G{gid}"


def test_gformat_dir_ingest_plan_is_shuffle_free(spark, tmp_path):
    """The wholetext + posexplode line numbering removed the per-file
    window shuffle: the bulk-ingest edge plan must contain NO Exchange
    (one embarrassingly-parallel scan, exactly what a 100k-file catalog
    bootstrap wants)."""
    from distributed_graph_db_c_spark.sources.gformat import read_gformat_dir

    d = tmp_path / "gdir_plan"
    d.mkdir()
    (d / "G1.txt").write_text("2\n0 1\n1 0\n")
    (d / "G2.txt").write_text("1\n0\n")
    edges, vertices = read_gformat_dir(spark, str(d))
    for df in (edges, vertices):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    got = {(r["graph_id"], r["src"], r["dst"]) for r in edges.collect()}
    assert got == {(1, 1, 2), (1, 2, 1)}
