"""Query registry: the single source of truth for the engine's surface.

Every operator exposed by the engine registers here as a named pair of
 (a) a Spark builder ``(spark, sf_dir) -> DataFrame`` and
 (b) an optional ANSI-SQL oracle string DuckDB can run on the same
     parquet tables — the cross-engine correctness contract.

``__spark_entry__.py`` re-exports this registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query builder to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {name: entry.fn for name, entry in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {
        name: entry.oracle
        for name, entry in REGISTRY.items()
        if entry.oracle is not None
    }


_LOADED = False


def _load() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from strava_data_pipeline_spark.plans import (  # noqa: F401
        advanced_queries,
        analytics_complete,
        analytics_extra,
        analytics_queries,
        curation_queries,
        graph_queries,
        llm_queries,
        lm_queries,
        mining_queries,
        ops_queries,
        pipeline_queries,
        planner_queries,
        product_queries,
        retrieval_queries,
        rewrite_queries,
        stats_queries,
        streaming_faces,
        timeseries_queries,
        tokenizer_queries,
        traversal_queries,
    )

    _LOADED = True
