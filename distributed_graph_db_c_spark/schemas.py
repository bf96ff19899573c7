"""Canonical schemas — the single source of truth (SURVEY.md §1.2).

The reference has a fixed implicit schema (an n x n 0/1 matrix per file,
parsed by fscanf at secondary_server.c:283-292); here every dataset gets an
explicit StructType.  The catalog stores one row per graph
(``GRAPH_SCHEMA``, the reference's one G<i>.txt file per graph) in one
``graph_id``-partitioned parquet dataset; readers see it as the
GraphX/GraphFrames pair of DataFrames (edges + vertices) keyed by
``graph_id`` (reference: directory of G<i>.txt files, max 20 — ours is
unbounded).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Edge list, both directions materialized at ingest (undirected graphs,
# SURVEY.md §1.2) so every traversal step is a plain equi-join on src.
GRAPH_EDGES_SCHEMA = StructType(
    [
        StructField("graph_id", IntegerType(), nullable=False),
        StructField("src", LongType(), nullable=False),
        StructField("dst", LongType(), nullable=False),
    ]
)

# Vertex set — needed because isolated vertices (e.g. reference fixture
# G14.txt, 3 nodes, no edges) never appear in the edge list.
GRAPH_VERTICES_SCHEMA = StructType(
    [
        StructField("graph_id", IntegerType(), nullable=False),
        StructField("id", LongType(), nullable=False),
    ]
)

# Stored catalog row: one graph = its vertex ids + its edge list (both
# directions, as in GRAPH_EDGES_SCHEMA).  ``edges`` is [] for an edgeless
# graph.  The edge and vertex views above are ``inline``/``explode`` of it.
GRAPH_SCHEMA = StructType(
    [
        StructField("graph_id", IntegerType(), nullable=False),
        StructField("vertices", ArrayType(LongType(), containsNull=False), nullable=False),
        StructField(
            "edges",
            ArrayType(StructType(GRAPH_EDGES_SCHEMA.fields[1:]), containsNull=False),
            nullable=False,
        ),
    ]
)


def arrow_table(rows: list[tuple], schema: StructType) -> pa.Table:
    """In-memory ``rows`` (tuples in ``schema``'s field order; a struct
    value may be a tuple) as an Arrow table typed by ``schema``.
    ``spark.createDataFrame`` takes such a table over Arrow whatever the
    session's Arrow setting, where a list of rows becomes a pickled RDD
    that needs a Python worker.  No rows give an empty table of
    ``schema``.  A NULL where ``schema`` forbids one, at any nesting
    depth, raises (the cast checks it, as ``createDataFrame`` does)."""
    arrow = to_arrow_schema(schema)
    if not rows:
        return arrow.empty_table()
    cols = [pa.array(list(c), f.type) for c, f in zip(zip(*rows), arrow)]
    return pa.Table.from_arrays(cols, schema=arrow).cast(arrow)


TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
