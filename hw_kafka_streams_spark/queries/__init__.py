"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame.

Each registered query carries an optional DuckDB-runnable oracle SQL so
the driver can hash-compare results at sf0.01 (driver contract in
``__spark_entry__.py`` at the repo root). Column names are aliased identically on
both sides — the driver sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import all query modules (side effect: registration)."""
    global _LOADED
    if _LOADED:
        return
    from hw_kafka_streams_spark.queries import (  # noqa: F401
        corpus_q,
        curation_q,
        extras_q,
        functions_q,
        llm_q,
        mining_q,
        relational,
        streaming_q,
        subqueries_q,
        timeseries_q,
        windows_q,
    )

    _LOADED = True
