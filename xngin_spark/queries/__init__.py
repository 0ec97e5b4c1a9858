"""Executable query corpus: adapted TPC-H + operator micros + pipeline ops.

Every entry appears in two registries kept in lock-step:
  QUERIES[name] -> Callable[(SparkSession, sf_dir)] -> DataFrame
  ORACLE[name]  -> DuckDB SQL string over the same parquet views

Names/aliases match exactly between the two so the driver's
order-insensitive value-hash compares equal (see xngin_spark.oracle for
the determinism policy on double aggregates).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator registering a query callable (+ optional oracle SQL)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import all query modules so their registrations run. A module
    that fails to import raises: its queries must not silently drop out
    of the bench, the tests and the oracle sweep."""
    for mod in (
        "tpch",
        "micro",
        "pipeline",
        "windows",
        "corpus",
        "analytic",
        "bucketed",
        "sqlsurface",
    ):
        __import__(f"xngin_spark.queries.{mod}")
