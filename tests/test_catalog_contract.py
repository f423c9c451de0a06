"""Catalog contracts: oracle coverage and the session memo registry.

These tests pin invariants of the merged query catalog so a future edit
can't silently regress them:

- every SURVEY §2 operator id keeps an exercising catalog query that
  carries a DuckDB value oracle (``oracle_sql()``);
- the only queries without a value oracle are the four rows-only sketch
  originals, so a new query without an oracle fails here;
- every session memo owner in ``plans.memo_owners`` is a catalog query.
"""

from __future__ import annotations


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


# SURVEY §2 operator id -> exercising catalog queries (the VERDICT r2
# coverage table's mapping). At least one of each id's queries must carry a
# value oracle.
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
    "P8": ["region_segment_flatten"],
    "P9": ["priority_set_algebra"],
    "P10": ["returnflag_pivot"],
    "J1": ["flagship_harmonic_topk"],
    "J2": ["revenue_by_nation"],
    "J3": ["customer_order_left"],
    "J4": ["drug_disease_pipeline"],
    "J5": ["symmetric_trade_edges"],
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
    """Every memo owner in plans.memo_owners is a real catalog query, and
    every reset is callable and idempotent."""
    from platform_etl_drug_disease_spark.plans import memo_owners

    q, _ = _catalog()
    unknown = [n for n in memo_owners.OWNERS if n not in q]
    assert not unknown, f"memo owners that are not catalog queries: {unknown}"
    for reset in memo_owners.OWNERS.values():
        reset()  # must not raise
        reset()  # idempotent


def test_memo_put_keeps_the_two_newest_snapshots():
    from platform_etl_drug_disease_spark.plans.memo_owners import memo_put

    cache: dict = {}
    for k in "abc":
        memo_put(cache, k, k.upper())
    assert cache == {"b": "B", "c": "C"}
    memo_put(cache, "c", "C2")  # re-put of a held key evicts nothing
    assert cache == {"b": "B", "c": "C2"}
