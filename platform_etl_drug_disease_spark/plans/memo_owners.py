"""Session memos: the one way to read or fill them, and their registry.

A session memo keeps a derived frame in a module-level dict so that a later
query of the same session reads it instead of rebuilding it. A memo is kept
only where a ``query_mix`` request of the benchmark (``QUERY_POPULARITY`` in
``perfbench/workloads.py``) consumes it, so the benchmark shows what it
saves: today that is the containment scale path's shingle table and
candidate pair set (``plans/dedup_text.py``). Every other shared derivation
is a plain function its consumers call; a query that reads a frame twice
builds it once and checkpoints it itself.

``session_memo(cache, *tables)`` is the only way to read or fill a memo
dict: it wraps a ``(spark, sf_dir)`` build body and keys each call on the
application id (a frame never outlives its session), the absolute ``sf_dir``
and a content fingerprint of every named table (rewriting a table in place
misses instead of serving the previous snapshot). A miss runs the body and
stores the result through ``memo_put``, which keeps the two newest
snapshots. Bodies return eager ``localCheckpoint``s, so a hit re-reads
materialized blocks.

``OWNERS`` maps each memo to the catalog query that consumes it and to a
reset that clears its caches. ``perfbench`` clears every memo through it
before the warm pass (``perfbench.workloads.clear_memos``) and counts the
artifacts built (``memo_caches``, which reads each reset's closure variables
``module`` and ``cache_names``). Rules for adding an entry:

- every session memo dict MUST appear here under exactly one owner;
- the owner must be a catalog query that consumes the memo AND a request of
  ``query_mix`` (a memo no benchmark request reads shows no win);
- clears must be idempotent and cheap (dict.clear on the module cache).

tests/test_catalog_contract.py::test_memo_owner_registry asserts every
owner below is a catalog query and a ``query_mix`` request, every reset is
callable, and every module-level ``_*_CACHE`` dict under ``plans/`` has a
reset here.
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
    """Memoize a ``(spark, sf_dir)`` build body in ``cache``, keyed on the
    session and the snapshot of ``tables`` under ``sf_dir`` (see the module
    docstring)."""

    def wrap(build: Callable) -> Callable:
        @functools.wraps(build)
        def memo(spark, sf_dir: str):
            sf = os.path.abspath(sf_dir)
            key = (
                spark.sparkContext.applicationId,
                sf,
                *(
                    _table_fingerprint(os.path.join(sf, f"{t}.parquet"))
                    for t in tables
                ),
            )
            hit = cache.get(key)
            if hit is None:
                hit = build(spark, sf_dir)
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
    # containment scale-path artifacts: the trigram shingle table + the
    # unfiltered shipped-config candidate pair set, shared with
    # containment_recall_audit (which audits exactly that configuration)
    "dedup_containment_minhash_topk": _module_caches(
        "dedup_text", "_CTM_SHINGLES_CACHE", "_CTM_CANDS_CACHE"
    ),
}
