"""Catalog adapter: the query catalog's public surface.

``entry(spark)`` runs the flagship query as a smoke check; ``queries()`` and
``oracle_sql()`` expose the merged catalog (``plans.merged_catalog``) by
name. Its readers are ``perfbench`` (``query_mix`` runs catalog queries and
checks them against their oracles), ``tools/oracle_check.py`` (every query
in Spark against its DuckDB oracle at sf0.01: row count, schema and
order-insensitive values) and the tests.

All real logic lives in ``platform_etl_drug_disease_spark``; this module is
just the adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from platform_etl_drug_disease_spark.plans import merged_catalog

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the association-scoring core (top-100
    revenue scores per part, rank-weighted harmonic sum) — the minimum slice
    touching source → projection → join → grouped top-k → HOF fold."""
    from platform_etl_drug_disease_spark.plans.relational import flagship_harmonic_topk

    return flagship_harmonic_topk(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2."""
    q, _ = merged_catalog()
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each query (omitted entries are
    non-SQL-expressible and get a rows-only check)."""
    _, o = merged_catalog()
    return o
