"""Lakehouse-maintenance operators: CDC upsert, Z-order layout, per-stratum
reservoir sampling, RRF fusion."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# CDC latest-wins upsert
# ---------------------------------------------------------------------------


def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, val=v, version=ver, deleted=d) for k, v, ver, d in rows]
    )


def test_upsert_latest_updates_and_inserts(spark):
    from platform_etl_drug_disease_spark.operators.cdc import upsert_latest

    base = _snap(spark, [(1, "a", 0, False), (2, "b", 0, False)])
    changes = _snap(spark, [(2, "b2", 1, False), (3, "c", 1, False)])
    out = upsert_latest(base, changes, ["k"], "version")
    got = {r.k: (r.val, r.version) for r in out.collect()}
    assert got == {1: ("a", 0), 2: ("b2", 1), 3: ("c", 1)}


def test_upsert_latest_tombstone_deletes_and_drops_marker(spark):
    from platform_etl_drug_disease_spark.operators.cdc import upsert_latest

    base = _snap(spark, [(1, "a", 0, False), (2, "b", 0, False)])
    changes = _snap(spark, [(1, "a", 1, True)])
    out = upsert_latest(base, changes, ["k"], "version", tombstone_col="deleted")
    assert "deleted" not in out.columns
    assert [r.k for r in out.collect()] == [2]


def test_upsert_latest_multiple_versions_keep_highest(spark):
    from platform_etl_drug_disease_spark.operators.cdc import upsert_latest

    base = _snap(spark, [(1, "v0", 0, False)])
    changes = _snap(
        spark, [(1, "v1", 1, False), (1, "v3", 3, False), (1, "v2", 2, False)]
    )
    out = upsert_latest(base, changes, ["k"], "version")
    assert [(r.k, r.val) for r in out.collect()] == [(1, "v3")]


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------


def test_zvalue_matches_reference_interleave(spark):
    from platform_etl_drug_disease_spark.operators.layout import zvalue

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (255, 255), (17, 200), (128, 3)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in pts])
    got = df.select("x", "y", zvalue("x", "y", 8).alias("z")).collect()
    for r in got:
        assert r.z == morton(r.x, r.y), (r.x, r.y)


# ---------------------------------------------------------------------------
# per-stratum reservoir sample
# ---------------------------------------------------------------------------


def test_group_reservoir_fixed_size_and_stable(spark):
    from platform_etl_drug_disease_spark.operators.sampling import group_reservoir

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("g")
    )
    s1 = group_reservoir(df, "doc_id", "g", 7, salt="s:")
    s2 = group_reservoir(df.repartition(13), "doc_id", "g", 7, salt="s:")
    rows1 = sorted((r.g, r.doc_id) for r in s1.collect())
    rows2 = sorted((r.g, r.doc_id) for r in s2.collect())
    assert rows1 == rows2, "membership must not depend on partitioning"
    per_group = {}
    for g, _ in rows1:
        per_group[g] = per_group.get(g, 0) + 1
    assert per_group == {"0": 7, "1": 7, "2": 7}
    # a different salt draws a different sample
    s3 = group_reservoir(df, "doc_id", "g", 7, salt="other:")
    assert sorted((r.g, r.doc_id) for r in s3.collect()) != rows1


def test_group_reservoir_incremental_growth_is_monotone(spark):
    """Growing a stratum only swaps rows at the hash frontier: the sample of
    the grown corpus restricted to old ids is a subset of the old sample."""
    from platform_etl_drug_disease_spark.operators.sampling import group_reservoir

    small = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("g").alias("g"))
    big = spark.range(150).select(F.col("id").alias("doc_id"), F.lit("g").alias("g"))
    k = 10
    old = {r.doc_id for r in group_reservoir(small, "doc_id", "g", k).collect()}
    new = {r.doc_id for r in group_reservoir(big, "doc_id", "g", k).collect()}
    assert new & set(range(100)) <= old


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------


def test_rrf_fuse_combines_and_ranks(spark):
    from platform_etl_drug_disease_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([Row(doc_id=1, rank=1), Row(doc_id=2, rank=2)])
    b = spark.createDataFrame([Row(doc_id=2, rank=1), Row(doc_id=3, rank=2)])
    out = {r.doc_id: r for r in rrf_fuse(a, b, k=10, c=60).collect()}
    # doc 2 appears in both channels -> highest fused score
    assert out[2].rank == 1 and out[2].rank_kw == 2 and out[2].rank_vec == 1
    assert out[2].rrf_score == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)
    # single-channel docs report rank 0 on the missing channel, never null
    assert out[1].rank_vec == 0 and out[3].rank_kw == 0
    assert out[1].rrf_score == pytest.approx(1 / 61, abs=1e-6)
    # tie between kw-only rank1 and vec-only rank2? no — check ordering field
    ranks = [r.rank for r in out.values()]
    assert sorted(ranks) == [1, 2, 3]


def test_hybrid_query_runs_on_smoke(spark):
    from platform_etl_drug_disease_spark.plans.retrieval import hybrid_rrf_search

    rows = hybrid_rrf_search(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert [r.rank for r in rows] == list(range(1, 11))
    # at least one hit must come from each channel at this scale
    assert any(r.rank_kw > 0 for r in rows)
    assert any(r.rank_vec > 0 for r in rows)


# ---------------------------------------------------------------------------
# data-quality constraint audit
# ---------------------------------------------------------------------------


def test_dq_checks_detect_planted_violations(spark):
    from platform_etl_drug_disease_spark.operators.quality_checks import (
        audit,
        check_in_range,
        check_not_null,
        check_references,
        check_unique,
    )

    child = spark.createDataFrame(
        [Row(k=1, v=None), Row(k=1, v=5.0), Row(k=2, v=99.0), Row(k=9, v=-3.0)]
    )
    parent = spark.createDataFrame([Row(p=1), Row(p=2)])
    out = {
        r.check_name: (r.n_checked, r.n_violations)
        for r in audit(
            [
                check_unique(child, ["k"], "uniq"),
                check_not_null(child, "v", "notnull"),
                check_in_range(child, "v", 0.0, 50.0, "range"),
                check_references(child, "k", parent, "p", "fk"),
            ]
        ).collect()
    }
    assert out["uniq"] == (4, 2)      # the two k=1 rows
    assert out["notnull"] == (4, 1)   # one null v
    assert out["range"] == (3, 2)     # 99.0 and -3.0 out of [0, 50]
    assert out["fk"] == (4, 1)        # k=9 has no parent


def test_dq_audit_fixture_facts(spark):
    """Referential integrity and key uniqueness of the harness star schema —
    including one REAL defect the audit catches: the synthetic generator
    reuses l_linenumber, so (l_orderkey, l_linenumber) is not a key."""
    from platform_etl_drug_disease_spark.plans.lakehouse import dq_audit

    out = {r.check_name: r.n_violations for r in dq_audit(spark, SF_SMOKE).collect()}
    assert out["orders_pk_unique"] == 0
    assert out["lineitem_pk_unique"] > 0, "fixture defect must be detected"
    assert out["lineitem_fk_orders"] == 0
    assert out["orders_fk_customer"] == 0
    assert out["customer_name_not_null"] == 0


# ---------------------------------------------------------------------------
# SCD Type-2 history
# ---------------------------------------------------------------------------


def test_scd2_history_intervals_and_current(spark):
    from platform_etl_drug_disease_spark.operators.cdc import scd2_history

    feed = spark.createDataFrame(
        [Row(k=1, val="a", version=0), Row(k=1, val="b", version=2),
         Row(k=1, val="c", version=5), Row(k=2, val="x", version=1)]
    )
    hist = {(r.k, r.version): r for r in scd2_history(feed, ["k"]).collect()}
    # intervals tile the version line per key, latest open-ended + current
    assert (hist[(1, 0)].valid_from, hist[(1, 0)].valid_to) == (0, 2)
    assert (hist[(1, 2)].valid_from, hist[(1, 2)].valid_to) == (2, 5)
    assert hist[(1, 5)].valid_to is None and hist[(1, 5)].is_current
    assert hist[(2, 1)].valid_to is None and hist[(2, 1)].is_current
    assert sum(r.is_current for r in hist.values()) == 2


def test_scd2_current_rows_equal_upsert_latest(spark):
    """The two CDC views must agree: SCD2's current slice IS the latest-wins
    merge (no tombstones)."""
    from platform_etl_drug_disease_spark.operators.cdc import (
        scd2_history,
        upsert_latest,
    )

    feed = spark.createDataFrame(
        [Row(k=k, val=f"v{k}.{ver}", version=ver)
         for k in range(20) for ver in range(k % 4 + 1)]
    )
    base = feed.where(F.col("version") == 0)
    changes = feed.where(F.col("version") > 0)
    merged = {(r.k, r.val) for r in
              upsert_latest(base, changes, ["k"], "version").collect()}
    current = {(r.k, r.val) for r in
               scd2_history(feed, ["k"]).where("is_current")
               .select("k", "val").collect()}
    assert merged == current


# ---------------------------------------------------------------------------
# deterministic training-order shuffle
# ---------------------------------------------------------------------------


def test_training_order_is_a_partition_stable_permutation(spark):
    from platform_etl_drug_disease_spark.operators.sampling import training_order

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = training_order(df, "doc_id", 8, "t:").collect()
    assert len(out) == 500
    # (shard, pos) is a bijection; pos is contiguous 1..n within each shard
    assert len({(r.shard, r.pos) for r in out}) == 500
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # balance: no shard more than 2x the mean (md5 is uniform)
    assert max(len(v) for v in by_shard.values()) <= 2 * 500 / 8
    # identical assignment under a different physical partitioning
    again = training_order(
        df.repartition(17), "doc_id", 8, "t:"
    ).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }
    # salt changes the permutation
    other = training_order(df, "doc_id", 8, "u:").collect()
    assert {(r.doc_id, r.shard) for r in other} != {
        (r.doc_id, r.shard) for r in out
    }


# ---------------------------------------------------------------------------
# incremental aggregate-view maintenance
# ---------------------------------------------------------------------------


def test_agg_state_merge_equals_full_recompute_any_tree(spark):
    """state(h)⊕state(b1)⊕state(b2) == agg(h∪b1∪b2), under every merge
    tree and order — the monoid property that makes out-of-order batch
    landing safe."""
    import itertools

    from platform_etl_drug_disease_spark.operators.incremental import (
        agg_state,
        merge_states,
        readout,
    )

    rows = [Row(k=i % 7, v=float(i) * 1.25 + 0.01) for i in range(200)]
    df = spark.createDataFrame(rows)
    parts = [
        df.where(F.col("v") % 3 < 1),
        df.where((F.col("v") % 3 >= 1) & (F.col("v") % 3 < 2)),
        df.where(F.col("v") % 3 >= 2),
    ]
    keys, sums = ["k"], {"v_sum": "v"}
    full = {
        (r.k): (r.n_rows, r.v_sum)
        for r in readout(agg_state(df, keys, sums), keys, sums).collect()
    }
    for perm in itertools.permutations(range(3)):
        merged = merge_states([agg_state(parts[i], keys, sums) for i in perm],
                              keys, sums)
        got = {
            (r.k): (r.n_rows, r.v_sum)
            for r in readout(merged, keys, sums).collect()
        }
        assert got == full, perm
    # nested tree: (s0 ⊕ s1) ⊕ s2
    s01 = merge_states([agg_state(parts[0], keys, sums),
                        agg_state(parts[1], keys, sums)], keys, sums)
    nested = merge_states([s01, agg_state(parts[2], keys, sums)], keys, sums)
    got = {(r.k): (r.n_rows, r.v_sum)
           for r in readout(nested, keys, sums).collect()}
    assert got == full


def test_key_skew_audit_flags_planted_hot_key(spark):
    from platform_etl_drug_disease_spark.operators.quality_checks import (
        key_skew_audit,
    )

    rows = [Row(k="hot") for _ in range(900)] + [
        Row(k=f"u{i}") for i in range(100)
    ] + [Row(k=None)] * 7
    df = spark.createDataFrame(rows)
    r = key_skew_audit(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys) == (1000, 101)  # nulls excluded
    assert r.hottest_key == "hot" and r.max_key_rows == 900
    assert r.top_key_share == pytest.approx(0.9)
    assert r.skew_factor == pytest.approx(900 * 101 / 1000)
    # uniform data: skew factor ~1
    uni = spark.createDataFrame([Row(k=f"u{i % 50}") for i in range(500)])
    ru = key_skew_audit(uni, "k").collect()[0]
    assert ru.skew_factor == pytest.approx(1.0)


def test_scd2_history_tiles_random_feeds(spark):
    """Property (hypothesis): for any change feed, per-key intervals tile
    the version line exactly — consecutive valid_from/valid_to chain, one
    open current row per key, row count preserved."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from platform_etl_drug_disease_spark.operators.cdc import scd2_history

    feed_strategy = st.dictionaries(
        st.integers(0, 5),
        st.sets(st.integers(0, 20), min_size=1, max_size=6),
        min_size=1,
        max_size=4,
    )

    @settings(max_examples=10, deadline=None)
    @given(feed_strategy)
    def check(feed):
        rows = [Row(k=k, version=v) for k, vs in feed.items() for v in vs]
        hist = scd2_history(
            spark.createDataFrame(rows, "k int, version int"), ["k"]
        ).collect()
        assert len(hist) == len(rows)
        by_key: dict[int, list] = {}
        for r in hist:
            by_key.setdefault(r.k, []).append(r)
        for k, rs in by_key.items():
            rs.sort(key=lambda r: r.valid_from)
            versions = sorted(feed[k])
            assert [r.valid_from for r in rs] == versions
            for a, b in zip(rs, rs[1:]):
                assert a.valid_to == b.valid_from and not a.is_current
            assert rs[-1].valid_to is None and rs[-1].is_current

    check()


def test_table_diff_classifies_all_statuses(spark):
    from platform_etl_drug_disease_spark.operators.cdc import table_diff

    schema = "k int, a string, b double"
    old = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0), (4, None, None)],
        schema,
    )
    new = spark.createDataFrame(
        [(1, "x", 1.0),          # unchanged
         (2, "y", 2.5),          # changed (value)
         (4, None, None),        # unchanged (null payload)
         (5, "w", 5.0)],         # added; k=3 removed
        schema,
    )
    got = {r.k: (r.diff_status, r.a, r.b)
           for r in table_diff(old, new, ["k"], ["a", "b"]).collect()}
    assert got[1][0] == "unchanged"
    assert got[2] == ("changed", "y", 2.5)      # new side wins for changed
    assert got[3] == ("removed", "z", 3.0)      # old side kept for removed
    assert got[4][0] == "unchanged"
    assert got[5] == ("added", "w", 5.0)
    # null vs value must be 'changed', not 'unchanged'
    old2 = spark.createDataFrame([(1, None, 1.0)], schema)
    new2 = spark.createDataFrame([(1, "", 1.0)], schema)
    r = table_diff(old2, new2, ["k"], ["a", "b"]).collect()[0]
    assert r.diff_status == "changed"
