"""GraphCatalog — named graphs as one graph_id-partitioned parquet dataset.

Storage shape (``schemas.GRAPH_SCHEMA``): ONE row per graph, ``(graph_id,
vertices array<long>, edges array<struct<src, dst>>)`` with edges in both
directions — the reference's unit of storage, one G<i>.txt file per graph
holding n plus the matrix, written in one pass (primary_server.c:118-128).
A graph's vertices and edges land in one file, published by one
directory rename, so a crash never leaves a torn graph, and an edgeless
graph is ``edges = []`` by construction.  Deliberate bound: a graph must
fit in one row, which is what lets the serving kernels
(``operators.traversal.bfs_graph_row_arrays`` /
``dfs_leaves_graph_row_arrays``) traverse each request's graph row with
SQL expressions evaluated on that row.

``put`` writes a micro-batch's graphs on the driver with ``pyarrow``, no
Spark job: each graph's row goes to a hidden staging directory, then each
old partition directory is deleted and the staged one renamed into its
place — the delete-plus-rename that Spark's dynamic-overwrite commit does.
``put_all`` (bulk ingest) stays one Spark job.  ``stored_edges`` hands a
read its graph row straight from the partition's data file on the driver,
with no Spark job; it reads the files on every call, so a write by another
process (or another catalog object on the same root) is seen by the next
read, and there is no cache to invalidate.  Files are written without the
Arrow schema in their metadata: Spark reads them with ``GRAPH_SCHEMA`` and
``stored_edges`` callers cast.

The root is a local filesystem path: ``put`` and ``drop`` write, rename
and delete the partition directories, and ``stored_edges`` lists and reads
them, with ``os``.

Reference parity (SURVEY.md §2.1 ops 1/2):
- op 1 "add graph"    (primary_server.c:45-157): create-or-overwrite one
  graph file.  Ours: replace one graph_id partition directory.
- op 2 "modify graph" (primary_server.c:140-143, file opened "w+" =
  truncate at :65): byte-identical to op 1 — full replace, never a merge.
  So ``put`` IS both ops; no upsert logic exists by design.
- readers-writers isolation (primary_server.c:60,150; secondary_server.c:
  229-234,297-303): a graph is never torn — its row is one file written
  before its directory is published — but the commit replaces the
  partition directory, so a read of that graph at that instant can find
  it missing or lose a file it listed (an error, as in a Spark scan); no
  lock orders them (upgrade path for true ACID: Delta/Iceberg table
  format).

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
        partition is replaced, so a payload that fails to type (a NULL
        id, vertex or edge end included) or to write replaces none.
        Other graphs' files are never rewritten (the per-file writer lock
        of primary_server.c:60 becomes partition-granularity isolation)."""
        rows = list({g[0]: g for g in graphs}.values())
        if not rows:
            return
        table = arrow_table(rows, GRAPH_SCHEMA).drop_columns("graph_id")
        # a "." name: Spark's reader and stored_edges skip it
        stage = f"{self.root}/.put-{uuid.uuid4().hex}"
        try:
            for i, (gid, *_) in enumerate(rows):
                os.makedirs(f"{stage}/graph_id={gid}")
                pq.write_table(
                    table.slice(i, 1),
                    f"{stage}/graph_id={gid}/part-{uuid.uuid4().hex}.parquet",
                    store_schema=False,
                )
            for gid, *_ in rows:
                self.drop(gid)
                os.rename(f"{stage}/graph_id={gid}", self._partition(gid))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def put_all(self, edges: DataFrame, vertices: DataFrame) -> None:
        """Bulk create-or-overwrite of every graph_id present in the input
        (the op-1 counterpart of ``sources.gformat.read_gformat_dir``).
        Both inputs are tagged, unioned and folded into graph rows by one
        ``groupBy`` in the write job itself; ``collect_list`` skips the
        other side's NULLs, so a graph with no edge rows stores
        ``edges = []`` and replaces an old edge list like any other."""
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
        # A fixed partition count keeps the file writes spread over every
        # core: AQE would coalesce this tiny shuffle into one task that
        # writes every graph's file in turn.
        by_graph = tagged.repartition(self.spark.sparkContext.defaultParallelism, "graph_id")
        # Dynamic overwrite replaces only the graph_id partitions present in
        # the input; set per write because a session not built by
        # ``session.get_spark`` may run Spark's default STATIC mode, which
        # would wipe every other graph.
        (
            by_graph.groupBy("graph_id")
            .agg(F.collect_list("v").alias("vertices"), F.collect_list("e").alias("edges"))
            .write.partitionBy("graph_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.root)
        )

    def drop(self, graph_id: int) -> None:
        """Remove one graph.  Overwriting a partition with zero rows is not
        expressible via dynamic overwrite, so delete its directory (same
        effect as the reference never having the file)."""
        part = self._partition(graph_id)
        if os.path.exists(part):
            shutil.rmtree(part)

    def _partition(self, graph_id: int) -> str:
        return f"{self.root}/graph_id={graph_id}"

    # -- read path: graph rows, and edge and vertex views over them --

    def stored_edges(self, ids: Iterable[int]) -> dict[int, pa.Array]:
        """The stored ``edges`` of each graph in ``ids`` that exists, read
        from its partition directory's data files on the driver (names
        starting with ``_`` or ``.`` are skipped, as Spark's reader skips
        them): no Spark job.  Each value holds the graph's one row; its
        element type is the one in the file, whose nullability flags
        differ between ``put`` and ``put_all`` files, so cast before
        combining.  Raises if a graph directory holds other than one row."""
        found = {}
        for gid in ids:
            part = self._partition(gid)
            if not os.path.isdir(part):
                continue
            tables = []
            for name in os.listdir(part):
                if not name.startswith(("_", ".")):
                    with pq.ParquetFile(os.path.join(part, name)) as f:
                        tables.append(f.read(columns=["edges"]))
            rows = sum(t.num_rows for t in tables)
            if rows != 1:
                raise ValueError(f"graph {gid} has {rows} stored rows under {part}, expected 1")
            found[gid] = next(t for t in tables if t.num_rows)["edges"].combine_chunks()
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
