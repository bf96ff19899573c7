"""GraphCatalog — named graphs as one graph_id-partitioned parquet dataset.

Storage shape (``schemas.GRAPH_SCHEMA``): ONE row per graph, ``(graph_id,
vertices array<long>, edges array<struct<src, dst>>)`` with edges in both
directions — the reference's unit of storage, one G<i>.txt file per graph
holding n plus the matrix, written in one pass (primary_server.c:118-128).
Each graph is exactly one file, ``graph_id=N/part-0.parquet``, published
by one ``os.replace``, so a crash never leaves a torn graph, and an
edgeless graph is ``edges = []`` by construction.  Deliberate bound: a
graph must fit in one row, which is what lets the serving kernels
(``operators.traversal.bfs_graph_row_arrays`` /
``dfs_leaves_graph_row_arrays``) traverse each request's graph row with
SQL expressions evaluated on that row.

One writer, ``put``, writes every graph on the driver with ``pyarrow``, no
Spark job: each graph's row goes to a hidden staging directory, then each
staged file replaces its graph's file.  ``put_all`` (bulk ingest) folds
its edge and vertex rows into graph rows with Spark and hands them to
``put``.  ``stored_edges`` hands a read its graph row straight from the
graph's file on the driver, with no Spark job; it reads the file on every
call, so a write by another process (or another catalog object on the
same root) is seen by the next read, and there is no cache to invalidate.
Files are written without the Arrow schema in their metadata: Spark reads
them with ``GRAPH_SCHEMA`` and ``stored_edges`` callers cast.

The root is a local filesystem path: ``put`` and ``drop`` write, replace
and delete the graph files with ``os``, and ``stored_edges`` opens them.

Reference parity (SURVEY.md §2.1 ops 1/2):
- op 1 "add graph"    (primary_server.c:45-157): create-or-overwrite one
  graph file.  Ours: replace one graph_id partition's file.
- op 2 "modify graph" (primary_server.c:140-143, file opened "w+" =
  truncate at :65): byte-identical to op 1 — full replace, never a merge.
  So ``put`` IS both ops; no upsert logic exists by design.
- readers-writers isolation (primary_server.c:60,150; secondary_server.c:
  229-234,297-303): a graph is never torn and never missing — its row is
  one file written in full before ``os.replace`` swaps it in, so a reader
  that opens the graph sees the old graph or the new one, never none, and
  two concurrent writers of one graph leave one intact graph (the last
  replace wins).  No lock orders them; a reader holds the file it opened
  (upgrade path for multi-graph transactions: Delta/Iceberg table format).

Scale posture: a query on one graph prunes to one partition directory
(partition pruning is visible in the scan's PartitionFilters), and a
fleet-wide query (all graphs) is a single distributed scan.  The reference
caps the catalog at 20 graphs x 30 nodes (primary_server.c:22,
client.c:15); ours is unbounded in the number of graphs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .schemas import GRAPH_SCHEMA, arrow_table


class GraphCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- write path (reference ops 1 and 2 — "modify" is a full replace) --

    def put(self, graphs: Iterable[tuple[int, list[int], list[tuple[int, int]]]]) -> None:
        """Create-or-overwrite every graph in ``graphs``, ``(graph_id,
        vertices, edges)`` payloads (the reference's SHM handoff,
        client.c:131-144): ``edges`` is stored as given, so pass both
        directions.  A graph_id given more than once keeps its last
        payload (a later modify replaces an earlier add).  Written on the
        driver, no Spark job: every graph's file is staged before any
        graph is replaced, so a payload that fails to type (a NULL id,
        vertex or edge end included) or to write replaces none.  Other
        graphs' files are never rewritten (the per-file writer lock of
        primary_server.c:60 becomes per-file isolation)."""
        rows = list({g[0]: g for g in graphs}.values())
        if not rows:
            return
        table = arrow_table(rows, GRAPH_SCHEMA).drop_columns("graph_id")
        # a "." name: Spark's reader skips it
        stage = f"{self.root}/.put-{uuid.uuid4().hex}"
        os.makedirs(stage)
        try:
            for i, (gid, *_) in enumerate(rows):
                pq.write_table(table.slice(i, 1), f"{stage}/{gid}.parquet", store_schema=False)
            for gid, *_ in rows:
                os.makedirs(self._partition(gid), exist_ok=True)
                os.replace(f"{stage}/{gid}.parquet", self._file(gid))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def put_all(self, edges: DataFrame, vertices: DataFrame) -> None:
        """Bulk create-or-overwrite of every graph_id present in the input
        (the op-1 counterpart of ``sources.gformat.read_gformat_dir``).
        Both inputs are tagged, unioned and folded into graph rows by one
        ``groupBy``; ``collect_list`` skips the other side's NULLs, so a
        graph with no edge rows stores ``edges = []`` and replaces an old
        edge list like any other.  The folded rows are collected and
        written by ``put``, which rejects a NULL graph id or edge end.
        Deliberate bound: bulk ingest passes through the driver, as each
        graph already has to fit in one row."""
        tagged = vertices.select(
            F.col("graph_id").cast("int"),
            F.col("id").cast("long").alias("v"),
            F.lit(None).cast("struct<src:long,dst:long>").alias("e"),
        ).unionByName(
            edges.select(
                F.col("graph_id").cast("int"),
                F.lit(None).cast("long").alias("v"),
                F.struct(
                    F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
                ).alias("e"),
            )
        )
        folded = tagged.groupBy("graph_id").agg(
            F.collect_list("v").alias("vertices"), F.collect_list("e").alias("edges")
        )
        self.put(folded.collect())

    def drop(self, graph_id: int) -> None:
        """Remove one graph: delete its partition directory (same effect
        as the reference never having the file)."""
        part = self._partition(graph_id)
        if os.path.exists(part):
            shutil.rmtree(part)

    def _partition(self, graph_id: int) -> str:
        return f"{self.root}/graph_id={graph_id}"

    def _file(self, graph_id: int) -> str:
        return f"{self._partition(graph_id)}/part-0.parquet"

    # -- read path: graph rows, and edge and vertex views over them --

    def stored_edges(self, ids: Iterable[int]) -> dict[int, pa.Array]:
        """The stored ``edges`` of each graph in ``ids`` that exists, read
        from its file on the driver: no Spark job.  The file is opened
        once, so a read racing a ``put`` of the same graph gets the old
        row or the new one.  Each value holds the graph's one row; its
        element type is the file's, whose fields are non-nullable, so
        cast before combining with a nullable type.  Raises if a graph's
        file holds other than one row."""
        found = {}
        for gid in ids:
            try:
                with pq.ParquetFile(self._file(gid)) as f:
                    table = f.read(columns=["edges"])
            except FileNotFoundError:
                continue
            if table.num_rows != 1:
                raise ValueError(f"graph {gid} has {table.num_rows} stored rows, expected 1")
            found[gid] = table["edges"].combine_chunks()
        return found

    def graphs(self, ids: Iterable[int] | None = None) -> DataFrame:
        """The ``GRAPH_SCHEMA`` rows of the graphs in ``ids`` (all graphs
        when None); the ``isin`` filter prunes the scan to their partition
        directories (visible in the scan's PartitionFilters)."""
        df = self.spark.read.schema(GRAPH_SCHEMA).parquet(self.root)
        if ids is not None:
            df = df.filter(F.col("graph_id").isin(list(ids)))
        return df

    def edges(self, graph_id: int | None = None) -> DataFrame:
        ids = None if graph_id is None else [graph_id]
        return self.graphs(ids).select("graph_id", F.inline("edges"))

    def vertices(self, graph_id: int | None = None) -> DataFrame:
        ids = None if graph_id is None else [graph_id]
        return self.graphs(ids).select("graph_id", F.explode("vertices").alias("id"))

    def graph_ids(self) -> list[int]:
        # sorted here, not with orderBy: its range sampling costs two jobs
        return sorted(r["graph_id"] for r in self.graphs().select("graph_id").collect())
