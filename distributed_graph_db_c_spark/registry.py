"""Query registry — the driver-facing surface of the engine.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (whenever the
semantics are SQL-expressible) the equivalent DuckDB oracle SQL over the
same parquet tables.  ``__spark_entry__.py`` exposes the registry
(``queries()``, ``oracle_sql()``); ``tools/oracle_check.py`` compares every
registered query against its oracle at sf0.01.  ``REGISTRY`` keeps
registration order: query-module import order, then decorator order.

Contract notes (SURVEY.md §5):
- Column names must match between Spark result and oracle (alias both).
- Money aggregates go through DECIMAL then cast to DOUBLE at the end so
  results are bit-identical regardless of partitioning/order (double
  addition is not associative; decimal addition is).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    run: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, run=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.run for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


_loaded = False


def _ensure_loaded() -> None:
    """Import every query module exactly once; the imports populate
    REGISTRY in module order, then decorator order within a module."""
    global _loaded
    if _loaded:
        return
    from .queries import (  # noqa: F401
        dedup,
        graph,
        multimodal,
        relational,
        similarity,
        sketches,
        storage,
        streaming,
        temporal,
        text,
    )

    _loaded = True
