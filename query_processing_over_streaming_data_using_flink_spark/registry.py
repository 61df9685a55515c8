"""Central registry mapping query names → (Spark callable, DuckDB oracle SQL).

This is the driver contract surface: every operator from SURVEY.md §2
(plus the LLM-data extensions) registers here and is verified against
its oracle at sf0.01. Oracle = None marks genuinely non-SQL-expressible
ops (driver falls back to a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query_fn, oracle_sql_or_None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    _REGISTRY[name] = (fn, oracle)


def complex_toplevel_columns(schema) -> list[str]:
    """Columns whose top-level type a result-hashing harness cannot
    canonicalize (array/map/struct): pandas sort/factorize throws
    `TypeError: unhashable type` on list-valued cells, which turned the
    round-4 `embedding_label_centroids` row red. Registered queries must
    emit flat columns — explode to long format or `to_json` first; keep
    array-shaped renderings as unregistered library functions."""
    from pyspark.sql import types as T

    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {name: fn for name, (fn, _oracle) in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {name: oracle for name, (_fn, oracle) in _REGISTRY.items() if oracle is not None}


_LOADED = False


def _load() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects.
    from query_processing_over_streaming_data_using_flink_spark.plans import (  # noqa: F401
        suite_eventtime,
        suite_graph,
        suite_llm_data,
        suite_quality,
        suite_relational,
        suite_sketch,
        suite_streaming,
        tpch,
    )

    _LOADED = True
