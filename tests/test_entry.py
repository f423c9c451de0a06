"""Smoke test of the driver contract surface."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"l_partkey", "harmonic", "n_scores"}


def test_catalog_is_consistent():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "catalog must not be empty"
    # every oracle refers to a declared query
    assert set(o) <= set(q)


def test_catalog_queries_run_at_smoke_sf(spark):
    """Every query runs, and none leaves a named cache entry behind: a
    query's caches are either released after its last eager action or
    replaced by eager ``localCheckpoint``s its result reads. ``persist()``
    registers the entry when it is called, so ``limit(1)`` sees it."""
    from tests.conftest import SF_SMOKE

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_SMOKE)
        df.limit(1).collect()  # plans resolve and execute
        assert cache.isEmpty(), f"{name} left a named cache entry"
