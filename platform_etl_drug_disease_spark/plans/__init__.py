"""Query catalog + reference-parity pipeline plans.

Each catalog module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB ANSI SQL over the same parquet
tables). ``merged_catalog()`` merges them; ``__spark_entry__.py`` serves the
merged catalog to its readers, which all look queries up by name:
``perfbench`` (the ``query_mix`` workload and its oracle checks),
``tools/oracle_check.py`` (every query against its DuckDB oracle) and the
tests. Every query carries a value-hash oracle except the four rows-only
sketch/greedy originals (``price_tdigest_quantiles``,
``adjacency_degree_approx``, ``bpe_encode_stats``, ``hll_user_rollup``),
whose accuracy is pinned by pytest and whose hash-provable audit twins
(``tdigest_quantile_audit``, ``adjacency_degree_audit``,
``bpe_roundtrip_audit``, ``hll_rollup_audit``) are oracled.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

def merged_catalog() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge all catalog modules, in module order; late import so a broken
    module is obvious."""
    from platform_etl_drug_disease_spark.plans import (
        arrays_hof,
        dedup_text,
        events_time,
        graph,
        lakehouse,
        pipeline_catalog,
        quality_lm,
        relational,
        retrieval,
        scalar_fns,
        scale_joins,
        similarity,
        sinks,
        streaming_media,
    )

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in (
        relational,
        arrays_hof,
        scalar_fns,
        events_time,
        graph,
        dedup_text,
        lakehouse,
        quality_lm,
        similarity,
        retrieval,
        streaming_media,
        pipeline_catalog,
        scale_joins,
        sinks,
    ):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    return queries, oracles
