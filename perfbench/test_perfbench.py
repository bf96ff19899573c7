"""Self-tests of the benchmark's generator, oracle and span arithmetic.
Pure Python, no Spark:  python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from run import BLOCKS, GRAPHS, ZIPF_S  # noqa: E402


def inputs(seed: int, batches: int = 6, size: int = 16):
    rng = random.Random(seed)
    graphs = gen.catalog_graphs(rng, GRAPHS)
    texts = {gid: gen.gformat_text(g) for gid, g in graphs.items()}
    stream = gen.RequestStream(rng, graphs, BLOCKS, ZIPF_S)
    return texts, [stream.next_batch(size) for _ in range(batches)]


def test_same_seed_same_inputs():
    assert inputs(7) == inputs(7)


def test_other_seed_other_inputs():
    a, b = inputs(7), inputs(8)
    assert a[0] != b[0]
    assert a[1] != b[1]


def test_gformat_text_is_reference_format():
    g = gen.FIXTURES[13]
    lines = gen.gformat_text(g).splitlines()
    assert lines[0] == "7"
    rows = [[int(x) for x in line.split()] for line in lines[1:]]
    assert len(rows) == 7 and all(len(r) == 7 for r in rows)
    assert all(rows[i][j] == rows[j][i] for i in range(7) for j in range(7))
    assert all(rows[i][i] == 0 for i in range(7))
    assert {(i + 1, j + 1) for i in range(7) for j in range(i + 1, 7) if rows[i][j]} == g.edges


def test_catalog_holds_fixture_shapes_and_bounded_sizes():
    graphs = gen.catalog_graphs(random.Random(3), GRAPHS)
    assert graphs[4] == oracle.Graph(1, frozenset())
    assert graphs[14] == oracle.Graph(3, frozenset())
    assert all(1 <= g.n <= gen.MAX_NODES for g in graphs.values())


def test_stream_mix_writes_first_and_valid_starts():
    rng = random.Random(11)
    graphs = gen.catalog_graphs(rng, GRAPHS)
    stream = gen.RequestStream(rng, graphs, BLOCKS, ZIPF_S)
    ops = []
    for _ in range(4):
        rows = stream.next_batch(16)
        kinds = [r[1] for r in rows]
        n_writes = sum(op in (1, 2) for op in kinds)
        assert all(op in (1, 2) for op in kinds[:n_writes])  # writes lead the batch
        for seq, op, gid, verts, edges, start in rows:
            if op in (3, 4):
                assert 1 <= start <= stream.graphs[gid].n
            else:
                assert verts == list(range(1, len(verts) + 1))
        ops += kinds
    assert [ops.count(op) for op in (1, 2, 3, 4)] == [8, 8, 24, 24]  # 75% reads


def test_stream_mirror_follows_writes():
    rng = random.Random(5)
    graphs = gen.catalog_graphs(rng, GRAPHS)
    stream = gen.RequestStream(rng, graphs, BLOCKS, ZIPF_S)
    for _ in range(3):
        for seq, op, gid, verts, edges, _ in stream.next_batch(16):
            if op in (1, 2):
                last = (gid, len(verts), {(e["src"], e["dst"]) for e in edges})
    gid, n, edges = last
    assert stream.graphs[gid] == oracle.Graph(n, frozenset(edges))


# Hand-computed from the reference fixtures (FIXTURES.md section A).
@pytest.mark.parametrize(
    "gid, start, levels, leaves",
    [
        (1, 1, {1: 0, 2: 1, 3: 2, 4: 3, 5: 3}, {4, 5}),  # G1 path + branch
        (1, 3, {3: 0, 2: 1, 4: 1, 5: 1, 1: 2}, {1, 4, 5}),
        (1, 4, {4: 0, 3: 1, 2: 2, 5: 2, 1: 3}, {1, 5}),  # degree-1 start excluded
        (13, 1, {1: 0, 2: 1, 3: 2, 4: 2, 5: 3, 7: 3, 6: 4}, {4, 6, 7}),  # G13 tree
        (14, 1, {1: 0}, {1}),  # G14 edgeless: isolated start is a leaf
        (14, 2, {2: 0}, {2}),
        (4, 1, {1: 0}, {1}),  # n = 1
    ],
)
def test_oracle_on_fixtures(gid, start, levels, leaves):
    g = gen.FIXTURES[gid]
    assert oracle.bfs_levels(g, start) == levels
    assert oracle.dfs_leaves(g, start) == leaves
    assert oracle.expected_reply(g, 4, start) == set(levels.items())
    assert oracle.expected_reply(g, 3, start) == {(v, None) for v in leaves}


def test_directed_edges_both_ways():
    assert oracle.directed_edges(oracle.Graph(3, frozenset({(1, 2)}))) == {(1, 2), (2, 1)}


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_self_time_child_covers_part_of_parent():
    t = spans.Tracer(clock=FakeClock([0.0, 2.0, 5.0, 10.0]))
    with t.span("parent") as parent:
        with t.span("child") as child:
            pass
    assert (parent.duration, child.duration) == (10.0, 3.0)
    assert spans.self_time(parent) == pytest.approx(7.0)
    assert spans.self_time(child) == pytest.approx(3.0)
    assert child.parent == parent.id


def test_self_times_of_nested_tree_add_up_to_root():
    # root 0..20; a 1..6 (with a1 2..4); b 8..15
    t = spans.Tracer(clock=FakeClock([0.0, 1.0, 2.0, 4.0, 6.0, 8.0, 15.0, 20.0]))
    with t.span("root") as root:
        with t.span("a"):
            with t.span("a1"):
                pass
        with t.span("b"):
            pass
    selfs = {s.name: spans.self_time(s) for s in t.spans}
    assert selfs == pytest.approx({"root": 8.0, "a": 3.0, "a1": 2.0, "b": 7.0})
    assert sum(selfs.values()) == pytest.approx(root.duration)


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([(1, 4), (3, 6), (9, 12)], 0, 10) == pytest.approx(6.0)
    assert spans.covered([], 0, 10) == 0.0


def test_patched_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    original = Owner.f
    t = spans.Tracer(clock=FakeClock([0.0, 1.0]))
    with spans.patched(t, [(Owner, "f", "owner.f")]):
        assert Owner.f(1) == 2
    assert Owner.f is original
    assert [s.name for s in t.spans] == ["owner.f"]
