"""Registry of the session memo caches, and the one way to fill them.

Several plan families memoize an expensive shared derivation per session:
a module-level dict keyed by application id plus the snapshot (sf dir or
content fingerprint), holding eager ``localCheckpoint``s. ``memo_put``
inserts into such a cache and keeps at most two snapshots.

``OWNERS`` maps each memo to one catalog query that consumes it and to a
reset that clears its caches. ``perfbench`` clears every memo through it
before the warm pass (``perfbench.workloads.clear_memos``) and counts the
artifacts built (``memo_caches``, which reads each reset's closure variables
``module`` and ``cache_names``). Rules for adding an entry:

- every new session memo MUST appear here under exactly one owner;
- the owner must be a catalog query that consumes the artifact;
- clears must be idempotent and cheap (dict.clear on the module cache).

tests/test_catalog_contract.py::test_memo_owner_registry asserts every
owner name below is a real catalog query and every reset is callable.
"""

from __future__ import annotations

from collections.abc import Callable


def memo_put(cache: dict, key, value) -> None:
    """Insert ``value`` under ``key`` and evict oldest-first down to two
    snapshots."""
    cache[key] = value
    while len(cache) > 2:
        cache.pop(next(iter(cache)))


def _dedup_text_caches(*cache_names: str) -> Callable[[], None]:
    def _reset() -> None:
        from platform_etl_drug_disease_spark.plans import dedup_text

        for c in cache_names:
            getattr(dedup_text, c).clear()

    return _reset


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
    "longest_repeat_census": _dedup_text_caches(
        "_SUFFIX_ARTIFACT_CACHE", "_SUFFIX_BASE_CACHE"
    ),
    # lang-blocked containment top-3 prefix/verify pipeline
    # (quoted_span_stats measures the spans-over-warm-pairs reuse path)
    "dedup_containment_topk": _dedup_text_caches("_CONTAINMENT_TOPK_CACHE"),
    # the LSH pair-pipeline owner; clearing components too keeps the CC
    # owner's cost honest when only a subset runs
    "dedup_minhash_lsh": _dedup_text_caches(
        "_LSH_PAIRS_CACHE", "_LSH_COMPONENTS_CACHE"
    ),
    "dedup_cluster_components": _dedup_text_caches("_LSH_COMPONENTS_CACHE"),
    # containment scale-path artifacts: the trigram shingle table + the
    # unfiltered shipped-config candidate pair set, shared with
    # containment_recall_audit (which audits exactly that configuration)
    "dedup_containment_minhash_topk": _dedup_text_caches(
        "_CTM_SHINGLES_CACHE", "_CTM_CANDS_CACHE"
    ),
    # left-maximal-start lag-window pass (VERDICT r9 item 6); the
    # strip/retention consumers ride it warm
    "top_repeated_spans": _dedup_text_caches("_LM_STARTS_CACHE"),
    # keep-one span-identity/removal derivation shared with the release
    # DAG's keep_one mode (VERDICT r9 item 4)
    "repeat_keep_one_retention": _dedup_text_caches("_K1_REMOVALS_CACHE"),
    # trade-graph edge artifacts (round-10 memo): the directed
    # lineitem⋈orders edge list and its distinct symmetric closure,
    # shared by the whole graph family
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
    # containment serve twins' corpus snapshot artifacts (shingles + hot
    # list + slot-row index)
    "streaming_containment_incremental": _module_caches(
        "streaming_media", "_STREAM_CONTAINMENT_CACHE"
    ),
    # 2-iteration spherical k-means fit artifact (shared with
    # knn_cosine_ivf_kmeans — identical seeds/iters by contract)
    "kmeans_cells": _module_caches("similarity", "_KMEANS_FIT_CACHE"),
}

