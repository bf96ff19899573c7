"""GraphCatalog — named graphs as one graph_id-partitioned parquet dataset.

Storage shape (``schemas.GRAPH_SCHEMA``): ONE row per graph, ``(graph_id,
vertices array<long>, edges array<struct<src, dst>>)`` with edges in both
directions — the reference's unit of storage, one G<i>.txt file per graph
holding n plus the matrix, written in one pass (primary_server.c:118-128).
A graph's vertices and edges land in one file in one job commit, so a
crash never leaves a torn graph, and an edgeless graph is ``edges = []``
by construction.  Deliberate bound: a graph must fit in one row, the same
bound the whole-graph-per-task ``bfs_fleet`` kernel already assumes
(``operators.traversal._FLEET_MAX_EDGES``).

Reference parity (SURVEY.md §2.1 ops 1/2):
- op 1 "add graph"    (primary_server.c:45-157): create-or-overwrite one
  graph file.  Ours: dynamic partition overwrite of one graph_id.
- op 2 "modify graph" (primary_server.c:140-143, file opened "w+" =
  truncate at :65): byte-identical to op 1 — full replace, never a merge.
  So ``put`` IS both ops; no upsert logic exists by design.
- readers-writers isolation (primary_server.c:60,150; secondary_server.c:
  229-234,297-303): free here — parquet snapshot reads over immutable
  files; a reader that already listed its files never sees a concurrent
  overwrite (upgrade path for true ACID: Delta/Iceberg table format).

Scale posture: a query on one graph prunes to one partition directory
(partition pruning is visible in the scan's PartitionFilters), and a
fleet-wide query (all graphs) is a single distributed scan.  The reference
caps the catalog at 20 graphs x 30 nodes (primary_server.c:22,
client.c:15); ours is unbounded in the number of graphs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .schemas import GRAPH_SCHEMA


class GraphCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- write path (reference ops 1 and 2 — "modify" is a full replace) --

    def put(self, graph_id: int, vertices: list[int], edges: list[tuple[int, int]]) -> None:
        """Create-or-overwrite one graph from an in-memory payload (the
        reference's SHM handoff, client.c:131-144): ``edges`` is stored as
        given, so pass both directions.  Other graphs' files are never
        rewritten (the per-file writer lock of primary_server.c:60 becomes
        partition-granularity isolation)."""
        self._write(self.spark.createDataFrame([(graph_id, vertices, edges)], GRAPH_SCHEMA))

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
        self._write(
            by_graph.groupBy("graph_id").agg(
                F.collect_list("v").alias("vertices"), F.collect_list("e").alias("edges")
            )
        )

    def _write(self, graphs: DataFrame) -> None:
        # Dynamic overwrite replaces only the graph_id partitions present in
        # ``graphs``; set per write because a session not built by
        # ``session.get_spark`` may run Spark's default STATIC mode, which
        # would wipe every other graph.
        self._invalidate_stats()
        (
            graphs.write.partitionBy("graph_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.root)
        )

    def drop(self, graph_id: int) -> None:
        """Remove one graph.  Overwriting a partition with zero rows is not
        expressible via dynamic overwrite, so delete its directory (same
        effect as the reference never having the file)."""
        import os
        import shutil

        self._invalidate_stats()
        part = f"{self.root}/graph_id={graph_id}"
        if os.path.exists(part):
            shutil.rmtree(part)

    @staticmethod
    def _invalidate_stats() -> None:
        # Catalog mutations reuse the same scan path, so the traversal
        # auto-dispatchers' memoized edge-count stat (keyed on the analyzed
        # plan) would go stale without an explicit invalidation.
        from .operators.traversal import clear_graph_stats_cache

        clear_graph_stats_cache()

    # -- read path: edge and vertex views over the graph rows --

    def _graphs(self, graph_id: int | None) -> DataFrame:
        df = self.spark.read.schema(GRAPH_SCHEMA).parquet(self.root)
        if graph_id is not None:
            df = df.filter(F.col("graph_id") == graph_id)  # partition-pruned scan
        return df

    def edges(self, graph_id: int | None = None) -> DataFrame:
        return self._graphs(graph_id).select("graph_id", F.inline("edges"))

    def vertices(self, graph_id: int | None = None) -> DataFrame:
        return self._graphs(graph_id).select("graph_id", F.explode("vertices").alias("id"))

    def graph_ids(self) -> list[int]:
        rows = self._graphs(None).select("graph_id").orderBy("graph_id").collect()
        return [r["graph_id"] for r in rows]
