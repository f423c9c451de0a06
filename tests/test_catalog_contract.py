"""Catalog contracts: oracle coverage and the session memo registry.

These tests pin invariants of the merged query catalog so a future edit
can't silently regress them:

- every SURVEY §2 operator id keeps an exercising catalog query that
  carries a DuckDB value oracle (``oracle_sql()``);
- the only queries without a value oracle are the four rows-only sketch
  originals, so a new query without an oracle fails here;
- every session memo owner in ``plans.memo_owners`` is a catalog query,
  and every session memo dict under ``plans/`` has an owner;
- every public library function has a caller outside ``tests/``, so an
  operator has one implementation: the one the catalog or pipeline runs;
- no Python source cites a document or tool that does not exist.
"""

from __future__ import annotations

import re
from pathlib import Path


def _catalog():
    from platform_etl_drug_disease_spark.plans import merged_catalog

    return merged_catalog()


#: the rows-only sketch/greedy originals: their accuracy is pinned by
#: pytest, and each has a hash-provable audit twin that is oracled
#: (tdigest_quantile_audit, adjacency_degree_audit, bpe_roundtrip_audit,
#: hll_rollup_audit)
ROWS_ONLY = {
    "adjacency_degree_approx",
    "bpe_encode_stats",
    "hll_user_rollup",
    "price_tdigest_quantiles",
}


def test_unoracled_queries_are_the_rows_only_sketches():
    q, o = _catalog()
    assert set(q) - set(o) == ROWS_ONLY, (
        f"queries without a value oracle: {sorted(set(q) - set(o))}"
    )


# SURVEY.md §2 operator id -> the catalog queries that exercise it (the
# operator rows of COVERAGE.md, keyed the same way). At least one of each
# id's queries must carry a value oracle.
SURVEY_IDS: dict[str, list[str]] = {
    "S1": ["drug_disease_pipeline"],
    "S2": ["flagship_harmonic_topk"],
    "S3": ["flagship_harmonic_topk"],  # multi-file dirs; explicit glob in test_sources
    "S4": ["drug_disease_pipeline_whitelist"],
    "S5": ["sink_roundtrip"],
    "S6": ["sink_roundtrip"],
    "S7": ["sql_text_revenue"],
    "P1": ["flagship_harmonic_topk"],
    "P2": ["nested_struct_rollup"],
    "P3": ["part_id_synthesis"],
    "P4": ["returnflag_pivot"],
    "P5": ["cdc_upsert_stats", "symmetric_trade_edges"],
    "P6": ["pricing_summary"],
    "P7": ["revenue_by_nation"],
    "P8": ["drug_disease_pipeline"],
    "P9": ["revenue_by_nation"],
    "P10": ["returnflag_pivot"],
    "J1": ["flagship_harmonic_topk"],
    "J2": ["revenue_by_nation"],
    "J3": ["customer_order_left"],
    "J4": ["drug_disease_pipeline"],
    "J5": ["drug_disease_pipeline"],
    "J6": ["customers_with_open_orders"],
    "J7": ["drug_disease_pipeline"],
    "A1": ["adjacency_lut"],
    "A2": ["adjacency_degree_audit"],
    "A3": ["flagship_harmonic_topk"],
    "A4": ["nested_struct_rollup", "drug_disease_pipeline"],
    "A5": ["pricing_summary"],
    "A6": ["returnflag_pivot", "drug_disease_pipeline"],
    "A7": ["returnflag_pivot", "event_transition_matrix"],
    "A8": ["flagship_harmonic_topk"],
    "A9": ["symmetric_trade_edges"],
    "A10": ["flagship_harmonic_topk"],
    "W1": ["user_sessions", "scd2_history_stats"],
    # O1 (global sort) deliberately dropped from hot paths — SURVEY X4
    "O2": ["flagship_harmonic_topk"],
    "O3": ["flagship_harmonic_topk"],
    "U1": ["symmetric_trade_edges"],
    "U2": ["scd2_history_stats"],
    "U3": ["segment_set_algebra"],
    "U4": ["priority_set_algebra"],
    "U5": ["propagate_scores"],
    "U6": ["priority_set_algebra"],
    "U7": ["region_segment_flatten"],
    "F1": ["propagate_scores"],
    "F2": ["region_segment_flatten"],
    "F3": ["region_segment_flatten"],
    "F4": ["hof_acctbal_pipeline", "drug_disease_pipeline"],
    "F5": ["hof_acctbal_pipeline"],
    "F6": ["flagship_harmonic_topk"],
    "F7": ["priority_set_algebra"],
    "F8": ["nested_struct_rollup"],
    "F9": ["propagate_scores"],
    "F10": ["nested_struct_rollup"],
    "F11": ["part_id_synthesis"],
    "F12": ["part_id_synthesis"],
    "F13": ["part_id_synthesis"],
    "F14": ["flagship_harmonic_topk"],
    "F15": ["flagship_harmonic_topk"],
    "F16": ["drug_disease_pipeline"],
    "F17": ["flagship_harmonic_topk"],
    "F18": ["flagship_harmonic_topk"],
    "F19": ["flagship_harmonic_topk"],
    "F20": ["user_sessions"],
    "F21": ["json_props_rollup", "variant_props_stats"],
    "STREAM": ["streaming_hourly_windows", "streaming_session_windows"],
    "D1": ["region_descendants"],
    "D2": ["segment_acctbal_zscore"],
    "D3": ["multimodal_features", "multimodal_frame_sample"],
    "C1": ["drug_disease_pipeline"],
    "C2": ["drug_disease_pipeline"],
}


def test_every_survey_id_has_an_oracled_query():
    q, o = _catalog()
    orphans = {
        op_id: names
        for op_id, names in SURVEY_IDS.items()
        if not any(n in o for n in names)
    }
    assert not orphans, f"SURVEY §2 ids with no oracled query: {orphans}"
    ghosts = {
        op_id: [n for n in names if n not in q]
        for op_id, names in SURVEY_IDS.items()
        if any(n not in q for n in names)
    }
    assert not ghosts, f"SURVEY map references unknown queries: {ghosts}"


def test_memo_owner_registry():
    """Every memo owner in plans.memo_owners is a real catalog query, every
    reset is callable and idempotent, and some reset clears every
    module-level ``_*_CACHE`` dict under ``plans/``."""
    import importlib
    import pkgutil

    from platform_etl_drug_disease_spark import plans
    from platform_etl_drug_disease_spark.plans import memo_owners

    q, _ = _catalog()
    unknown = [n for n in memo_owners.OWNERS if n not in q]
    assert not unknown, f"memo owners that are not catalog queries: {unknown}"
    caches = {}
    for m in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{m.name}")
        for name, v in vars(mod).items():
            if name[0] == "_" and name.endswith("_CACHE") and isinstance(v, dict):
                caches[f"{m.name}.{name}"] = v
    assert caches
    probe = object()
    for c in caches.values():
        c[probe] = None
    for reset in memo_owners.OWNERS.values():
        reset()  # must not raise
        reset()  # idempotent
    unowned = sorted(n for n, c in caches.items() if c.pop(probe, 1) is None)
    assert not unowned, f"memo caches no OWNERS reset clears: {unowned}"


def test_memo_put_keeps_the_two_newest_snapshots():
    from platform_etl_drug_disease_spark.plans.memo_owners import memo_put

    cache: dict = {}
    for k in "abc":
        memo_put(cache, k, k.upper())
    assert cache == {"b": "B", "c": "C"}
    memo_put(cache, "c", "C2")  # re-put of a held key evicts nothing
    assert cache == {"b": "B", "c": "C2"}


#: public library names with no caller outside tests/, each with its reason
NO_CALLER_OK = {
    # the file stream source of the streaming tests: they drive the live
    # operators (interval join, stateful totals, rolling z-score, funnel)
    # from small JSON fixtures, while the catalog streams the parquet
    # events table through its own schema-sniffing source
    "read_event_stream",
}


def test_library_functions_have_a_caller():
    """Every public top-level function or class under ``operators/``,
    ``streaming/``, ``sources/`` and ``functions/`` is referenced by code
    outside ``tests/`` (the package itself, ``perfbench/``, ``tools/``, the
    entry module) or re-exported in a package ``__all__``. An import that
    is never used does not count. A name only its own test calls is a
    second implementation of something the catalog writes another way."""
    import ast

    root = Path(__file__).resolve().parents[1]
    pkg = root / "platform_etl_drug_disease_spark"
    defined: dict[str, str] = {}
    for sub in ("operators", "streaming", "sources", "functions"):
        for f in sorted((pkg / sub).glob("*.py")):
            for node in ast.parse(f.read_text()).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    defined[node.name] = f"{sub}/{f.name}"
    used: set[str] = set()
    for f in root.rglob("*.py"):
        top = f.relative_to(root).parts[0]
        if top == "tests" or top.startswith("."):
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                used.update(e.value for e in node.value.elts)
    uncalled = sorted(
        f"{path}:{name}"
        for name, path in defined.items()
        if name not in used and name not in NO_CALLER_OK
    )
    assert not uncalled, f"library code only tests call: {uncalled}"
    stale = sorted(n for n in NO_CALLER_OK if n in used or n not in defined)
    assert not stale, f"allowlisted names that now have a caller or are gone: {stale}"


#: names of the retired per-round process's documents; the character
#: classes keep this pattern from matching itself
_RETIRED_DOCS = re.compile(r"VERDIC[T]|ADVIC[E]|PER[F]\.md|OPTIMIZATION_[r]")


def test_sources_cite_only_live_files():
    """Every ``*.md`` or ``tools/*.py`` file a Python source of the package,
    ``tests/`` or ``tools/`` names exists (at the repo root or next to the
    source), and no source cites the retired per-round documents. A comment
    that points at a deleted file explains nothing."""
    root = Path(__file__).resolve().parents[1]
    sources = [root / "__spark_entry__.py"]
    for top in ("platform_etl_drug_disease_spark", "tests", "tools"):
        sources += sorted((root / top).rglob("*.py"))
    cited = re.compile(r"[\w./-]*\w\.md\b|\btools/\w+\.py\b")
    bad = []
    for f in sources:
        text = f.read_text()
        rel = f.relative_to(root)
        for name in sorted(set(cited.findall(text))):
            if not ((root / name).exists() or (f.parent / name).exists()):
                bad.append(f"{rel}: {name}")
        bad += [f"{rel}: {m}" for m in sorted(set(_RETIRED_DOCS.findall(text)))]
    assert not bad, f"stale citations: {bad}"
