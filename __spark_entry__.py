"""Entry contract of the engine (PySpark target).

``entry(spark)`` is the smoke check; ``queries()[name]`` runs one
registered query at a given scale factor and ``oracle_sql()[name]`` is its
DuckDB oracle over the same parquet tables (row-count + schema +
order-insensitive value compare; ``tools/oracle_check.py`` runs it).  A
query without an oracle gets a rows-only check.  Both dicts follow the
registry's registration order.

All real logic lives in ``distributed_graph_db_c_spark``; this module just
exposes the query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from distributed_graph_db_c_spark.registry import all_oracles, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: reference op 4 (BFS level traversal) over the
    order-chain graph derived from sf0.001 ``orders`` — the iterative-join
    Pregel kernel end-to-end (SURVEY.md §7 M0)."""
    from distributed_graph_db_c_spark.queries.graph import graph_bfs_order_chain

    return graph_bfs_order_chain(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted => rows-only check)."""
    return all_oracles()
