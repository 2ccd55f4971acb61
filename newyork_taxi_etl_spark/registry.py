"""Query registry: the driver contract surface.

Every implemented operator from SURVEY.md §2 (and the training-data-pipeline
extensions) is registered here as a named query: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, the equivalent
DuckDB oracle SQL. ``__spark_entry__.py`` re-exports this registry.

Naming discipline: every computed column is aliased identically in the Spark
plan and the oracle SQL — the driver's compare sorts columns by name before
hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from newyork_taxi_etl_spark.session import tune


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Register the decorated builder as query ``name``; each name once."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is already registered")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)  # reference semantics even on driver-provided sessions
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(name, wrapped, oracle, doc)
        return wrapped

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every query module; registration order is import order."""
    global _LOADED
    if _LOADED:
        return
    import newyork_taxi_etl_spark.queries.analytics  # noqa: F401
    import newyork_taxi_etl_spark.queries.behavior  # noqa: F401
    import newyork_taxi_etl_spark.queries.cleaning  # noqa: F401
    import newyork_taxi_etl_spark.queries.curation  # noqa: F401
    import newyork_taxi_etl_spark.queries.dedup  # noqa: F401
    import newyork_taxi_etl_spark.queries.graph  # noqa: F401
    import newyork_taxi_etl_spark.queries.joins  # noqa: F401
    import newyork_taxi_etl_spark.queries.linkage  # noqa: F401
    import newyork_taxi_etl_spark.queries.multimodal  # noqa: F401
    import newyork_taxi_etl_spark.queries.profiling  # noqa: F401
    import newyork_taxi_etl_spark.queries.sampling  # noqa: F401
    import newyork_taxi_etl_spark.queries.similarity  # noqa: F401
    import newyork_taxi_etl_spark.queries.sinks  # noqa: F401
    import newyork_taxi_etl_spark.queries.streaming  # noqa: F401
    import newyork_taxi_etl_spark.queries.text  # noqa: F401
    import newyork_taxi_etl_spark.queries.windows  # noqa: F401

    _LOADED = True
