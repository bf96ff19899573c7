"""Seeded input generator: a G-format catalog directory and request rows.

Everything a run feeds the engine comes from here, drawn from one
``random.Random(seed)`` stream, so the same seed gives byte-identical files
and rows.  Graphs are undirected, 1-based, at most 30 nodes (the reference
client's cap) and stored in the reference's on-disk format: line 1 is n,
then n rows of n space-separated 0/1 values, symmetric, zero diagonal.

Graph ids 4 and 14 carry the reference fixture shapes of the same names (a
single vertex; three vertices, no edges); every other id gets a random
shape.  ``FIXTURES`` also holds G1 and G13 for the self-tests.
"""

from __future__ import annotations

import os
import random
from bisect import bisect
from itertools import accumulate

from oracle import Graph

MAX_NODES = 30

FIXTURES: dict[int, Graph] = {
    1: Graph(5, frozenset({(1, 2), (2, 3), (3, 4), (3, 5)})),  # path + branch
    4: Graph(1, frozenset()),  # single vertex
    13: Graph(7, frozenset({(1, 2), (2, 3), (2, 4), (3, 5), (3, 7), (5, 6)})),  # tree
    14: Graph(3, frozenset()),  # edgeless
}

CATALOG_FIXTURES = (4, 14)
EDGE_P = 0.5


def random_graph(rng: random.Random) -> Graph:
    """n uniform in 1..30, each of the n(n-1)/2 vertex pairs an edge with
    probability 1/2: a uniformly random symmetric 0/1 matrix, the shape the
    engine's own property tests draw.  BFS depth from any start is 1 or 2
    for all but the smallest graphs."""
    n = rng.randint(1, MAX_NODES)
    return Graph(
        n,
        frozenset(
            (a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1) if rng.random() < EDGE_P
        ),
    )


def catalog_graphs(rng: random.Random, count: int) -> dict[int, Graph]:
    return {
        gid: FIXTURES[gid] if gid in CATALOG_FIXTURES else random_graph(rng)
        for gid in range(1, count + 1)
    }


def gformat_text(g: Graph) -> str:
    adj = [[0] * g.n for _ in range(g.n)]
    for a, b in g.edges:
        adj[a - 1][b - 1] = adj[b - 1][a - 1] = 1
    return f"{g.n}\n" + "".join(" ".join(map(str, row)) + "\n" for row in adj)


def write_gformat_dir(graphs: dict[int, Graph], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for gid, g in graphs.items():
        with open(os.path.join(path, f"G{gid}.txt"), "w") as f:
            f.write(gformat_text(g))


class RequestStream:
    """Request batches in the dispatcher's row shape
    ``(seq, op, graph_id, vertices, edges, start)``.

    Ops: 1 add / 2 modify (both replace the whole graph with a freshly
    generated one), 3 DFS-leaf read, 4 BFS read.  ``blocks`` is a cycle of
    op sequences issued in order, so any run of whole blocks sees fixed op
    shares at fixed positions.  Graph ids follow a Zipf law with
    exponent ``zipf_s`` over a seeded random ranking of the ids.  The
    stream tracks the graphs its own writes install (``self.graphs``) so
    read starts are valid vertices; a batch's writes apply before its
    reads, as the dispatcher does.
    """

    def __init__(
        self,
        rng: random.Random,
        graphs: dict[int, Graph],
        blocks: tuple[tuple[int, ...], ...],
        zipf_s: float,
    ):
        self.rng = rng
        self.graphs = dict(graphs)
        self.blocks = blocks
        self._blocks_issued = 0
        ranked = sorted(graphs)
        rng.shuffle(ranked)
        self._ranked = ranked
        self._cum = list(accumulate(1.0 / (r + 1) ** zipf_s for r in range(len(ranked))))
        self._block: list[int] = []
        self._seq = 0

    def _graph_id(self) -> int:
        x = self.rng.random() * self._cum[-1]
        return self._ranked[min(bisect(self._cum, x), len(self._ranked) - 1)]

    def _op(self) -> int:
        if not self._block:
            self._block = list(self.blocks[self._blocks_issued % len(self.blocks)])
            self._blocks_issued += 1
        return self._block.pop(0)

    def next_batch(self, size: int) -> list[tuple]:
        return self._rows([(self._op(), self._graph_id()) for _ in range(size)])

    def block_done(self) -> bool:
        """True when every request of the current mix block was issued."""
        return not self._block

    def warmup_rows(self, graph_id: int) -> list[tuple]:
        """Untimed first dispatch: a DFS-leaf read from vertex 1 of
        ``graph_id``, which runs the BFS superstep and degree paths once.
        Its seq is negative so it never collides with the stream's."""
        return [(-1, 3, graph_id, None, None, 1)]

    def _rows(self, planned: list[tuple[int, int]]) -> list[tuple]:
        rows = []
        for op, gid in planned:
            if op in (1, 2):
                g = random_graph(self.rng)
                self.graphs[gid] = g
                edges = [{"src": a, "dst": b} for a, b in sorted(g.edges)]
                rows.append([op, gid, list(range(1, g.n + 1)), edges, None])
        for op, gid in planned:
            if op in (3, 4):
                rows.append([op, gid, None, None, self.rng.randint(1, self.graphs[gid].n)])
        # seq order = generation order, with the batch's writes first
        out = []
        for r in rows:
            self._seq += 1
            out.append((self._seq, *r))
        return out
