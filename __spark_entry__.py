"""Catalog adapter: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` is the flagship query, a smoke check. ``queries()`` maps
each catalog name to its builder, ``oracle_sql()`` to the matching DuckDB
SQL. The tests, ``bench.py`` and ``tools/`` import this module; all query
definitions live in ``dropbox_duckdb_playground_spark.catalog``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dropbox_duckdb_playground_spark import catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    return catalog.queries()["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    return catalog.oracle_sql()
