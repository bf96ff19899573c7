"""Pure-Python mirror of the catalog and the reply oracle.

Independent of the engine: plain adjacency sets and a queue BFS.  The
DFS-leaf rule is the canonical one from ``operators/traversal.py``:
vertices reachable from the start with degree <= 1, excluding a
non-isolated start.
"""

from __future__ import annotations

from collections import deque
from typing import NamedTuple


class Graph(NamedTuple):
    n: int
    edges: frozenset  # undirected (a, b) pairs with a < b, 1-based


def adjacency(g: Graph) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {v: set() for v in range(1, g.n + 1)}
    for a, b in g.edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def bfs_levels(g: Graph, start: int) -> dict[int, int]:
    """Vertex -> hop distance from ``start`` for every reachable vertex."""
    adj = adjacency(g)
    level = {start: 0}
    queue = deque([start])
    while queue:
        v = queue.popleft()
        for w in adj[v]:
            if w not in level:
                level[w] = level[v] + 1
                queue.append(w)
    return level


def dfs_leaves(g: Graph, start: int) -> set[int]:
    adj = adjacency(g)
    return {
        v
        for v in bfs_levels(g, start)
        if len(adj[v]) <= 1 and not (v == start and adj[v])
    }


def expected_reply(g: Graph, op: int, start: int) -> set[tuple[int, int | None]]:
    """The reply rows ``(id, level)`` a read must produce; DFS replies
    carry no level."""
    if op == 4:
        return set(bfs_levels(g, start).items())
    return {(v, None) for v in dfs_leaves(g, start)}


def directed_edges(g: Graph) -> set[tuple[int, int]]:
    """The catalog stores both directions of every undirected edge."""
    return {(a, b) for a, b in g.edges} | {(b, a) for a, b in g.edges}
