"""The entry contract: ``__spark_entry__`` exposes exactly the registry."""

from __future__ import annotations

import __spark_entry__ as entry
import bench
from distributed_graph_db_c_spark import registry
from distributed_graph_db_c_spark.registry import REGISTRY, _ensure_loaded


def test_entry_exposes_the_registry():
    queries = entry.queries()
    assert list(queries) == list(REGISTRY)
    assert all(queries[n] is s.run for n, s in REGISTRY.items())
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(queries)
    assert set(oracles) == {n for n, s in REGISTRY.items() if s.oracle is not None}


def test_bench_headline_is_registered():
    missing = [n for n in bench.HEADLINE if n not in entry.queries()]
    assert not missing, missing


def test_ensure_loaded_is_idempotent():
    _ensure_loaded()
    before = dict(REGISTRY)
    _ensure_loaded()
    assert registry._loaded
    assert list(REGISTRY) == list(before)
    assert all(REGISTRY[n] is s for n, s in before.items())
