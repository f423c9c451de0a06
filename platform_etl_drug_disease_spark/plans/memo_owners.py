"""Session memos: the one way to read or fill them, and their registry.

Several plan families memoize an expensive shared derivation per session
in a module-level dict. ``session_memo(cache, *tables)`` is the only way to
read or fill such a dict: it wraps a ``(spark, sf_dir, *args)`` build body
and keys each call on the application id (a frame never outlives its
session), the absolute ``sf_dir``, a content fingerprint of every named
table (rewriting a table in place misses instead of serving the previous
snapshot) and the extra call arguments. A miss runs the body and stores the
result through ``memo_put``, which keeps the two newest snapshots. Bodies
return eager ``localCheckpoint``s, so a hit re-reads materialized blocks.

``OWNERS`` maps each memo to one catalog query that consumes it and to a
reset that clears its caches. ``perfbench`` clears every memo through it
before the warm pass (``perfbench.workloads.clear_memos``) and counts the
artifacts built (``memo_caches``, which reads each reset's closure variables
``module`` and ``cache_names``). Rules for adding an entry:

- every session memo dict MUST appear here under exactly one owner;
- the owner must be a catalog query that consumes the artifact;
- clears must be idempotent and cheap (dict.clear on the module cache).

tests/test_catalog_contract.py::test_memo_owner_registry asserts every
owner name below is a real catalog query, every reset is callable, and
every module-level ``_*_CACHE`` dict under ``plans/`` has a reset here.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable


def memo_put(cache: dict, key, value) -> None:
    """Insert ``value`` under ``key`` and evict oldest-first down to two
    snapshots."""
    cache[key] = value
    while len(cache) > 2:
        cache.pop(next(iter(cache)))


def _table_fingerprint(path: str) -> tuple:
    """(name, size, mtime_ns) of a parquet file, or of every entry of a
    parquet directory — cheap (one listdir) and changes whenever the table
    is rewritten in place."""
    if os.path.isdir(path):
        return tuple(
            sorted(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in os.scandir(path)
            )
        )
    st = os.stat(path)
    return (os.path.basename(path), st.st_size, st.st_mtime_ns)


def session_memo(cache: dict, *tables: str) -> Callable:
    """Memoize a ``(spark, sf_dir, *args, **kwargs)`` build body in
    ``cache``, keyed on the session, the snapshot of ``tables`` under
    ``sf_dir`` and the extra arguments (see the module docstring)."""

    def wrap(build: Callable) -> Callable:
        @functools.wraps(build)
        def memo(spark, sf_dir: str, *args, **kwargs):
            sf = os.path.abspath(sf_dir)
            key = (
                spark.sparkContext.applicationId,
                sf,
                *(
                    _table_fingerprint(os.path.join(sf, f"{t}.parquet"))
                    for t in tables
                ),
                args,
                tuple(sorted(kwargs.items())),
            )
            hit = cache.get(key)
            if hit is None:
                hit = build(spark, sf_dir, *args, **kwargs)
                memo_put(cache, key, hit)
            return hit

        return memo

    return wrap


def _module_caches(module: str, *cache_names: str) -> Callable[[], None]:
    def _reset() -> None:
        import importlib

        mod = importlib.import_module(
            f"platform_etl_drug_disease_spark.plans.{module}"
        )
        for c in cache_names:
            getattr(mod, c).clear()

    return _reset


#: owner catalog query -> reset of the memo caches it owns (lazy imports so
#: a reset only loads the module that holds its caches)
OWNERS: dict[str, Callable[[], None]] = {
    # suffix-ranking doubling-loop artifact (the whole suffix family rides
    # it) + the shared anchor-universe pair (tokenized base + anchor-df
    # counts) the census build and both sampled estimators consume
    "longest_repeat_census": _module_caches(
        "dedup_text", "_SUFFIX_ARTIFACT_CACHE", "_SUFFIX_BASE_CACHE"
    ),
    # lang-blocked containment top-3 prefix/verify pipeline
    # (quoted_span_stats measures the spans-over-warm-pairs reuse path)
    "dedup_containment_topk": _module_caches(
        "dedup_text", "_CONTAINMENT_TOPK_CACHE"
    ),
    # the LSH pair-pipeline owner; clearing components too keeps the CC
    # owner's cost honest when only a subset runs
    "dedup_minhash_lsh": _module_caches(
        "dedup_text", "_LSH_PAIRS_CACHE", "_LSH_COMPONENTS_CACHE"
    ),
    "dedup_cluster_components": _module_caches(
        "dedup_text", "_LSH_COMPONENTS_CACHE"
    ),
    # containment scale-path artifacts: the trigram shingle table + the
    # unfiltered shipped-config candidate pair set, shared with
    # containment_recall_audit (which audits exactly that configuration)
    "dedup_containment_minhash_topk": _module_caches(
        "dedup_text", "_CTM_SHINGLES_CACHE", "_CTM_CANDS_CACHE"
    ),
    # left-maximal-start lag-window pass; the
    # strip/retention consumers ride it warm
    "top_repeated_spans": _module_caches("dedup_text", "_LM_STARTS_CACHE"),
    # keep-one span-identity/removal derivation shared with the release
    # DAG's keep_one mode
    "repeat_keep_one_retention": _module_caches(
        "dedup_text", "_K1_REMOVALS_CACHE"
    ),
    # trade-graph edge artifacts: the directed lineitem⋈orders edge list
    # and its distinct symmetric closure, shared by the whole graph family
    "trade_pagerank": _module_caches(
        "graph", "_EDGES_CACHE", "_SYM_EDGES_CACHE"
    ),
    # support-thresholded co-supplier pair artifact (shared with
    # supplier_kcore / supplier_clustering)
    "supplier_triangles": _module_caches("graph", "_CO_PAIRS_CACHE"),
    # (returnflag, extendedprice) value-histogram artifact (shared with
    # price_quantiles_per_flag / tdigest_quantile_audit)
    "price_mad_stats": _module_caches("relational", "_PRICE_HIST_CACHE"),
    # minhash serve twins' corpus snapshot artifacts (shingle table + band
    # index, shared with the multibatch twin)
    "streaming_incremental_dedup": _module_caches(
        "streaming_media", "_STREAM_MINHASH_CACHE"
    ),
    # staged multi-file feed landing dir (shared with
    # streaming_containment_multibatch)
    "streaming_dedup_multibatch": _module_caches(
        "streaming_media", "_STAGED_FEED_CACHE"
    ),
    # containment serve twins' corpus snapshot artifacts (shingles + hot
    # list + slot-row index)
    "streaming_containment_incremental": _module_caches(
        "streaming_media", "_STREAM_CONTAINMENT_CACHE"
    ),
    # 2-iteration spherical k-means fit artifact (shared with
    # knn_cosine_ivf_kmeans — identical seeds/iters by contract)
    "kmeans_cells": _module_caches("similarity", "_KMEANS_FIT_CACHE"),
}
