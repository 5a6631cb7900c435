"""Operator registry.

Every analytics operator registers itself with :func:`register`, providing
the Spark implementation ``(spark, sf_dir) -> DataFrame`` and, when the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string over the same
fixture tables.  ``all_queries`` / ``all_oracles`` return registration
order; ``__spark_entry__.py`` exposes the merged registry to the
correctness harness and owns the order in which keys are checked.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["register", "all_queries", "all_oracles", "REGISTRY"]


@dataclass(frozen=True)
class Operator:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


REGISTRY: dict[str, Operator] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add an operator to the registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the correctness driver hands us ITS session — normalize the
            # runtime confs the engine depends on (UTC tz, nanos-as-long,
            # AQE, Arrow) before planning
            from googlecloudstorage_blueprints_spark.session import (
                apply_runtime_conf,
            )

            apply_runtime_conf(spark)
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        REGISTRY[name] = Operator(name=name, fn=run, oracle=oracle)
        return run

    return wrap


def _load_all() -> None:
    """Import every operator module (side effect: registration)."""
    from googlecloudstorage_blueprints_spark.operators import (  # noqa: F401
        audit,
        behavior,
        relational,
        relational_ext,
        semistructured,
        text,
        corpus_stats,
        dedup,
        embedding_stats,
        similarity,
        similarity_ivf,
        similarity_pq,
        events,
        fileops_query,
        graph,
        ir,
        multimodal,
        pipeline,
        relational_tpch2,
        scale_patterns,
        segments,
        semdedup,
        training,
        warehouse,
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: op.fn for name, op in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: op.oracle
        for name, op in REGISTRY.items()
        if op.oracle is not None
    }
