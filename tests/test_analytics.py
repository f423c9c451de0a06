"""Planted-data tests for the analytics operators added with the funnel /
triangle / regression / overlap / divergence catalog queries."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _ev(uid, seq):
    """seq: list of event types; timestamps follow list order."""
    return [
        Row(user_id=uid, ts=float(i), event_id=uid * 100 + i, event_type=t)
        for i, t in enumerate(seq)
    ]


def test_funnel_flags_strict_ordering(spark):
    from platform_etl_drug_disease_spark.operators.windows import funnel_flags

    rows = (
        _ev(1, ["view", "click", "purchase"])  # full funnel
        + _ev(2, ["click", "view"])  # click BEFORE view → click not reached
        + _ev(3, ["view", "purchase"])  # no click → purchase not reached
        + _ev(4, ["purchase", "click", "view"])  # fully reversed → view only
        + _ev(5, ["view", "purchase", "click", "purchase"])  # 2nd purchase ok
    )
    df = spark.createDataFrame(rows)
    out = funnel_flags(
        df,
        "user_id",
        ["ts", "event_id"],
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    got = {
        r["user_id"]: (r["reached_view"], r["reached_click"], r["reached_purchase"])
        for r in out.collect()
    }
    assert got == {
        1: (True, True, True),
        2: (True, False, False),
        3: (True, False, False),
        4: (True, False, False),
        5: (True, True, True),
    }


def test_triangle_stats_known_graphs(spark):
    from platform_etl_drug_disease_spark.operators.graph_algos import (
        triangle_stats,
    )

    # K4 on {1,2,3,4} (4 triangles) minus edge (3,4) → exactly 2 triangles,
    # plus a disjoint star 10-{11,12,13} (0 triangles).
    k4_minus = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    star = [(10, 11), (10, 12), (10, 13)]
    df = spark.createDataFrame(k4_minus + star, ["u", "v"])
    row = triangle_stats(df).collect()[0]
    assert row["n_edges"] == 8
    assert row["n_triangles"] == 2
    # orientation bounds out-degree: the star hub has raw degree 3 but
    # out-degree 0 (leaves have lower degree and point AT it).
    assert row["max_out_degree"] <= 3


def test_triangle_stats_matches_bruteforce_random(spark):
    import itertools
    import random

    from platform_etl_drug_disease_spark.operators.graph_algos import (
        triangle_stats,
    )

    rng = random.Random(7)
    nodes = list(range(20))
    pairs = sorted(
        {(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.3}
    )
    adj = set(pairs)
    expected = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    df = spark.createDataFrame(pairs, ["u", "v"])
    assert triangle_stats(df).collect()[0]["n_triangles"] == expected


def test_regression_matches_numpy(spark):
    import numpy as np

    from platform_etl_drug_disease_spark.plans.relational import (
        price_quantity_regression,
    )

    out = {r["l_returnflag"]: r for r in price_quantity_regression(spark, SF_SMOKE).collect()}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    pdf = li.toPandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = np.round(grp["l_quantity"].to_numpy())
        y = np.round(grp["l_extendedprice"].to_numpy() * 100) / 100
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert abs(out[flag]["slope_price_per_qty"] - slope) < 1e-3
        assert abs(out[flag]["intercept_price"] - intercept) < 1e-1
        assert abs(out[flag]["r2"] - r * r) < 1e-4
        assert out[flag]["n_items"] == len(grp)


def test_source_overlap_kmv_tracks_exact(spark):
    from platform_etl_drug_disease_spark.plans.dedup_text import (
        source_overlap_jaccard,
    )

    rows = source_overlap_jaccard(spark, SF_SMOKE).collect()
    assert rows, "expected at least one source pair"
    for r in rows:
        assert 0.0 <= r["jaccard_exact"] <= 1.0
        assert 0.0 <= r["jaccard_kmv"] <= 1.0
        # KMV with k=128 on these set sizes: loose but honest error bound
        assert abs(r["jaccard_kmv"] - r["jaccard_exact"]) <= 0.25


def test_lang_mix_divergence_information_bounds(spark):
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        lang_mix_divergence,
    )

    rows = lang_mix_divergence(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # entropy of a ≤5-language mix ∈ [0, ln 5]; KL(P‖Q) ≥ 0 always
        assert -1e-9 <= r["lang_entropy"] <= math.log(5) + 1e-9
        assert r["kl_vs_corpus"] >= -1e-9


def test_embedding_decontaminate_planted_probe_copy(spark):
    from platform_etl_drug_disease_spark.plans.similarity import (
        _DECON_TAU,
        embedding_decontaminate,
    )

    rows = embedding_decontaminate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_flagged"] <= r["n_corpus"]
        assert r["max_cosine"] <= 1.0 + 1e-9
    # threshold actually bites somewhere at this sf
    assert any(r["n_flagged"] > 0 for r in rows)
    assert all(
        (r["n_flagged"] > 0) == (r["max_cosine"] >= _DECON_TAU) or r["n_flagged"] > 0
        for r in rows
    )


def test_hll_rollup_accuracy_and_consistency(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from platform_etl_drug_disease_spark.plans.lakehouse import hll_user_rollup

    rows = hll_user_rollup(spark, SF_SMOKE).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], {})[r["period"]] = r["est_users"]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    exact_total = ev.select("user_id").distinct().count()
    est_total = by_level["all"]["all"]
    assert abs(est_total - exact_total) / exact_total < 0.05
    exact_daily = {
        r["period"]: r["n"]
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("period")
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(by_level["day"]) == set(exact_daily)
    for p, est in by_level["day"].items():
        assert abs(est - exact_daily[p]) / max(exact_daily[p], 1) < 0.1
    # merged week estimates can never fall below their largest member day
    # (HLL union is monotone)
    assert max(by_level["week"].values()) >= max(by_level["day"].values()) * 0.95


def test_overlap_and_triangle_plans_stay_scale_safe(spark, checkpointed):
    """Regression pins for the two sf≈1 fixes: no shingle recomputation
    sunk into a Filter below the overlap query's exchange (in any plan the
    query runs, its checkpoint jobs included), and the triangle graph
    support-thresholded before orientation (the raw co-supplier graph is
    near-complete)."""
    from platform_etl_drug_disease_spark.plan_lint import filter_conditions
    from platform_etl_drug_disease_spark.plans.dedup_text import (
        source_overlap_jaccard,
    )
    from platform_etl_drug_disease_spark.plans.graph import (
        _co_supplier_pairs,
        supplier_triangles,
    )

    overlap = source_overlap_jaccard(spark, SF_SMOKE)
    assert checkpointed, "the overlap pin reads the checkpoint job's plan"
    for frame in [overlap, *checkpointed]:
        for cond in filter_conditions(frame):
            assert "array_distinct" not in cond, cond
            assert "transform(sequence" not in cond, cond

    # the pair builder thresholds the pairs, and the triangle census runs
    # over exactly that pair set (its plan reads a checkpoint of it)
    pairs = _co_supplier_pairs(spark, SF_SMOKE)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "support" in plan and ">= 5" in plan
    assert supplier_triangles(spark, SF_SMOKE).first()["n_edges"] == pairs.count()


def test_kcore_peel_planted_clique_and_tail(spark):
    import itertools

    from platform_etl_drug_disease_spark.operators.graph_algos import kcore_peel

    # K5 on {0..4} (3-core) plus a pendant chain 4-10-11-12 that peeling
    # must strip: all chain nodes have degree < 3 in round 1.
    k5 = list(itertools.combinations(range(5), 2))
    chain = [(4, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k5 + chain, ["u", "v"])
    rows = {r["round"]: r for r in kcore_peel(df, k=3, n_rounds=3).collect()}
    assert rows[1]["n_nodes"] == 5 and rows[1]["n_edges"] == 10
    # converged: later rounds repeat
    assert rows[2]["n_nodes"] == 5 and rows[3]["n_edges"] == 10
    # higher k than any degree → everything peels to empty
    empty = {r["round"]: r for r in kcore_peel(df, k=10, n_rounds=2).collect()}
    assert empty[2]["n_nodes"] == 0 and empty[2]["n_edges"] == 0


def test_funnel_flags_first_reach_times(spark):
    from platform_etl_drug_disease_spark.operators.windows import funnel_flags

    rows = (
        _ev(1, ["view", "click", "purchase"])
        + _ev(2, ["purchase", "view", "click", "purchase"])  # 2nd purchase qualifies
    )
    df = spark.createDataFrame(rows)
    out = {
        r["user_id"]: r
        for r in funnel_flags(
            df,
            "user_id",
            ["ts", "event_id"],
            [
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
                ("purchase", F.col("event_type") == "purchase"),
            ],
            time_col="ts",
        ).collect()
    }
    # user 1: first qualifying purchase at ts=2 (third event)
    assert out[1]["first_view_at"] == 0.0 and out[1]["first_purchase_at"] == 2.0
    # user 2: the ts=0 purchase does NOT qualify; the ts=3 one does
    assert out[2]["first_purchase_at"] == 3.0 and out[2]["reached_purchase"]


def test_apportion_quota_exact_budget_properties(spark):
    from platform_etl_drug_disease_spark.operators.sampling import (
        apportion_quota,
    )

    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], ["s", "w"]
    )
    # 100 over three equal strata: floor gives 33 each; the 1 leftover goes
    # to the smallest stratum name on the remainder tie
    got = {r["s"]: r["quota"] for r in apportion_quota(df, "s", "w", 100).collect()}
    assert sum(got.values()) == 100
    assert got == {"a": 34, "b": 33, "c": 33}
    # skewed weights still hit the budget exactly and order by mass
    df2 = spark.createDataFrame(
        [("x", 999_999), ("y", 2), ("z", 1)], ["s", "w"]
    )
    got2 = {r["s"]: r["quota"] for r in apportion_quota(df2, "s", "w", 7).collect()}
    assert sum(got2.values()) == 7
    assert got2["x"] >= 6 and got2["y"] >= got2["z"]


def test_apportion_quota_properties_random(spark):
    """Property: for ANY positive integer weights, quotas sum exactly to the
    budget and each stratum's quota is within 1 of its exact proportional
    share (the largest-remainder guarantee)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from platform_etl_drug_disease_spark.operators.sampling import (
        apportion_quota,
    )

    @settings(
        max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(
        weights=st.lists(st.integers(1, 10**6), min_size=1, max_size=8),
        total=st.integers(0, 10**4),
    )
    def inner(weights, total):
        df = spark.createDataFrame(
            [(f"s{i}", w) for i, w in enumerate(weights)], ["s", "w"]
        )
        got = {
            r["s"]: r["quota"]
            for r in apportion_quota(df, "s", "w", total).collect()
        }
        assert sum(got.values()) == total
        tw = sum(weights)
        for i, w in enumerate(weights):
            exact = w * total / tw
            assert exact - 1 < got[f"s{i}"] < exact + 1

    inner()


def test_transition_matrix_rows_and_probabilities(spark):
    from platform_etl_drug_disease_spark.plans.events_time import (
        event_transition_matrix,
    )

    rows = event_transition_matrix(spark, SF_SMOKE).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    # per-prev probabilities sum to 1 (within the 1e-6 rounding grid)
    for prev, rs in by_prev.items():
        assert abs(sum(x["p"] for x in rs) - 1.0) < 1e-4, prev
    # total transitions = events - one first-event per user
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == n_events - n_users


def test_cohort_retention_invariants(spark):
    from platform_etl_drug_disease_spark.plans.events_time import (
        order_cohort_retention,
    )

    rows = order_cohort_retention(spark, SF_SMOKE).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], {})[r["month_offset"]] = r
    for cohort, offs in by_cohort.items():
        assert 0 in offs, f"cohort {cohort} missing offset 0"
        base = offs[0]["n_active"]
        assert offs[0]["retention"] == 1.0
        for off, r in offs.items():
            assert r["n_active"] <= base
            assert 0.0 <= r["retention"] <= 1.0


def test_python_udtf_lateral_equals_builtin_explode(spark):
    """D3 surface: a Python UDTF registered and applied via SQL LATERAL
    must match the engine's preferred row-generation path (explode over a
    builtin split). The UDTF is the API-completeness demonstration only —
    catalog row generation stays on explode/mapInPandas (codegen vs
    per-row Python)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate((text or "").split()):
                yield t, i

    spark.udtf.register("py_tokenize", Tokenize)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "delta")], ["doc_id", "text"]
    )
    df.createOrReplaceTempView("udtf_docs")
    got = {
        (r["doc_id"], r["pos"]): r["token"]
        for r in spark.sql(
            "SELECT d.doc_id, t.token, t.pos "
            "FROM udtf_docs d, LATERAL py_tokenize(d.text) t"
        ).collect()
    }
    want = {
        (r["doc_id"], r["pos"]): r["token"]
        for r in df.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " +")).alias("pos", "token"),
        )
        .where(F.col("token") != "")
        .collect()
    }
    assert got == want and (1, 2) in got


def test_node_clustering_known_graph(spark):
    from platform_etl_drug_disease_spark.operators.graph_algos import (
        node_clustering,
    )

    # K4 minus edge (3,4): node 1 and 2 sit in 2 triangles each with deg 3
    # (coeff 2/3); nodes 3,4 in 1 triangle with deg 2 (coeff 1.0)
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], ["u", "v"]
    )
    got = {r["node"]: (r["deg"], r["n_triangles"], round(r["clustering"], 6))
           for r in node_clustering(df).collect()}
    assert got[1] == (3, 2, round(2 * 2 / (3 * 2), 6))
    assert got[2] == (3, 2, round(2 * 2 / (3 * 2), 6))
    assert got[3] == (2, 1, 1.0)
    assert got[4] == (2, 1, 1.0)


def test_next_event_examples_invariants(spark):
    from platform_etl_drug_disease_spark.plans.events_time import (
        next_event_examples,
    )

    out = next_event_examples(spark, SF_SMOKE).collect()
    assert out, "smoke fixture must yield at least one label"
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every event except each user's first becomes exactly one example
    assert sum(r.n_examples for r in out) == n_events - n_users
    for r in out:
        assert 1 <= r.top_context_n <= r.n_examples
        assert 1 <= r.n_contexts <= r.n_examples
        # context windows hold 1..3 predecessor events
        assert r.n_examples <= r.sum_ctx_len <= 3 * r.n_examples
        assert 1 <= len(r.top_context.split(">")) <= 3


def test_hard_negative_mining_labels_and_margin(spark):
    from platform_etl_drug_disease_spark.plans.similarity import (
        hard_negative_mining,
    )

    out = hard_negative_mining(spark, SF_SMOKE).collect()
    assert out
    lab = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    for r in out:
        assert lab[r.q_id] == r.anchor_label
        assert r.pos_id != r.q_id and r.neg_id != r.q_id
        if r.pos_id != -1:  # a real positive carries the anchor's label
            assert lab[r.pos_id] == r.anchor_label
            assert -1.0 <= r.pos_sim <= 1.0 + 1e-9
        if r.neg_id != -1:  # a real negative carries a different label
            assert lab[r.neg_id] != r.anchor_label
            assert -1.0 <= r.neg_sim <= 1.0 + 1e-9
        assert abs(r.margin - (r.pos_sim - r.neg_sim)) < 1e-12


def test_exact_auc_matches_bruteforce_pairs(spark):
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        exact_auc_stats,
    )

    out = {r.source: r for r in exact_auc_stats(spark, SF_SMOKE).collect()}
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "lang", "n_chars")
        .collect()
    )
    by_src = {}
    for d in docs:
        by_src.setdefault(d.source, ([], []))[0 if d.lang == "en" else 1].append(
            d.n_chars
        )
    for src, (pos, neg) in by_src.items():
        if not pos or not neg:
            assert src not in out
            continue
        u2 = sum(
            2 if p > n else (1 if p == n else 0) for p in pos for n in neg
        )
        r = out[src]
        assert (r.n_pos, r.n_neg, r.u2) == (len(pos), len(neg), u2)
        assert abs(r.auc - u2 / (2.0 * len(pos) * len(neg))) < 1e-12
        assert 0.0 <= r.auc <= 1.0


def test_embedding_separability_moment_identities(spark):
    import numpy as np

    from platform_etl_drug_disease_spark.plans.similarity import (
        embedding_separability,
    )

    out = {r.label: r for r in embedding_separability(spark, SF_SMOKE).collect()}
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("embedding", "label")
        .collect()
    )
    vecs = {}
    for r in rows:
        vecs.setdefault(r.label, []).append(np.array(r.embedding, dtype="f8"))
    gmu = np.mean(np.vstack([v for vs in vecs.values() for v in vs]), axis=0)
    for label, vs in vecs.items():
        m = np.vstack(vs)
        r = out[label]
        assert r.n_vecs == len(vs)
        wmsd = float(((m - m.mean(axis=0)) ** 2).sum(axis=1).mean())
        between2 = float(((m.mean(axis=0) - gmu) ** 2).sum())
        # exact-decimal sums vs numpy float sums: agree to ~1e-5
        assert abs(r.wmsd - wmsd) < 1e-4 * max(1.0, wmsd)
        assert abs(r.between2 - between2) < 1e-4 * max(1.0, between2)
        assert r.wmsd > 0 and r.between2 >= 0


def test_calibration_stats_identities(spark):
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        calibration_stats,
    )

    out = calibration_stats(spark, SF_SMOKE).collect()
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("n_chars", "lang")
        .collect()
    )
    assert sum(r.n for r in out) == len(docs)
    maxc = max(d.n_chars for d in docs)
    for r in out:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.frac_pos <= 1.0
        assert 0.0 <= r.mean_p <= 1.0 + 1e-9
        # mean prediction sits inside its own bucket's value range
        assert r.bin / 10 - 1e-6 <= r.mean_p <= (r.bin + 1) / 10 + 1e-6 or (
            r.bin == 9 and r.mean_p <= 1.0 + 1e-9
        )
        assert 0.0 <= r.brier <= 1.0 + 1e-9
    # exact global Brier equals the bin-weighted average
    brier_bf = sum(
        ((d.n_chars / maxc) - (1 if d.lang == "en" else 0)) ** 2 for d in docs
    ) / len(docs)
    brier_binned = sum(r.brier * r.n for r in out) / sum(r.n for r in out)
    assert abs(brier_binned - brier_bf) < 1e-5


def test_neyman_allocation_budget_and_optimality(spark):
    import math

    from platform_etl_drug_disease_spark.plans.quality_lm import (
        neyman_allocation,
    )

    out = neyman_allocation(spark, SF_SMOKE).collect()
    assert sum(r.quota for r in out) == 10_000  # exact budget
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    by_src = {}
    for d in docs:
        by_src.setdefault(d.source, []).append(d.n_chars)
    for r in out:
        xs = by_src[r.source]
        assert r.n_docs == len(xs)
        n, sx, sx2 = len(xs), sum(xs), sum(x * x for x in xs)
        assert r.neyman_w == math.floor(math.sqrt(n * sx2 - sx * sx))
    # within-1 fair share: largest-remainder never drifts more than a unit
    tw = sum(r.neyman_w for r in out)
    for r in out:
        assert abs(r.quota - 10_000 * r.neyman_w / tw) < 1.0


def test_bfs_levels_known_graph(spark):
    from platform_etl_drug_disease_spark.operators.graph_algos import bfs_levels

    # path 1-2-3-4-5 plus a detached node 9; undirected = both directions
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["level"] for r in bfs_levels(edges, seeds, 3).collect()}
    # node 5 is 4 hops away -> absent at max_depth=3; 8/9 unreachable
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # multi-source: min distance over seeds wins
    seeds2 = spark.createDataFrame([(1,), (5,)], ["node"])
    got2 = {r["node"]: r["level"] for r in bfs_levels(edges, seeds2, 3).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_hits_scores_known_graph(spark):
    from platform_etl_drug_disease_spark.operators.graph_algos import hits_scores

    # hubs 1,2 both point at authority 10; only 1 also points at 11.
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (1, 11)], ["src", "dst"]
    )
    got = {r["node"]: r["authority"] for r in hits_scores(edges, n_iters=2).collect()}
    # iter1: a(10)=2/3, a(11)=1/3; hubs: h(1)=1/3+2/3=1 -> 3/5, h(2)=2/3 -> 2/5
    # iter2: a(10)=3/5+2/5=1, a(11)=3/5 -> normalized 5/8, 3/8
    assert abs(got[10] - 0.625) < 1e-12
    assert abs(got[11] - 0.375) < 1e-12


@pytest.mark.parametrize("depth", [1, 2, 3, 4])
def test_bfs_loop_matches_generated_oracle_any_depth(spark, depth):
    """The iteration-depth contract: the Spark frontier
    loop and the GENERATED unrolled-CTE oracle must agree at every depth
    1..4 on a planted graph with a cycle and a long tail — the catalog
    oracle pins only BFS_MAX_DEPTH, so this guards whoever bumps the
    constant (the oracle regrows automatically from the same constant, and
    this proves the generator is right at the depths it has never shipped)."""
    import duckdb

    from platform_etl_drug_disease_spark.operators.graph_algos import bfs_levels
    from platform_etl_drug_disease_spark.plans.graph import bfs_sql_body

    # chain 1→2→3→4→5→6 with a branch 2→7→3 and a back-edge 3→1 (cycle):
    # every depth 1..4 discovers a different frontier, and the anti-join
    # must keep revisits out.
    e = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 7), (7, 3), (3, 1)]
    edges = spark.createDataFrame(e, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = sorted(
        (r["level"], r["n_nodes"], r["min_node"])
        for r in bfs_levels(edges, seeds, max_depth=depth)
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
        .collect()
    )
    vals = ", ".join(f"({a}, {b})" for a, b in e)
    sql = (
        f"WITH edges(src, dst) AS (VALUES {vals}), seeds(node) AS (VALUES (1))"
        + bfs_sql_body(depth)
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


@pytest.mark.parametrize("n_iters", [1, 2, 3, 4])
def test_hits_loop_matches_generated_oracle_any_iters(spark, n_iters):
    """Same contract for HITS: the decimal-exact Spark loop and the generated
    unrolled-CTE oracle agree bit-for-bit at every iteration count
    1..4, including the h0=1 shortcut (iteration 1 = pure integer
    in-degree)."""
    import duckdb

    from platform_etl_drug_disease_spark.operators.graph_algos import hits_scores
    from platform_etl_drug_disease_spark.plans._util import dround
    from platform_etl_drug_disease_spark.plans.graph import hits_sql_body

    e = [(1, 10), (2, 10), (1, 11), (3, 11), (3, 12), (2, 12), (4, 10)]
    edges = spark.createDataFrame(e, ["src", "dst"])
    w = Window.orderBy(F.col("authority").desc(), "node")
    got = sorted(
        (r["rk"], r["node"], r["authority"])
        for r in hits_scores(edges, n_iters=n_iters)
        .select("node", dround("authority", 9).alias("authority"))
        .orderBy(F.col("authority").desc(), "node")
        .limit(15)
        .select(F.row_number().over(w).alias("rk"), "node", "authority")
        .collect()
    )
    vals = ", ".join(f"({a}, {b})" for a, b in e)
    sql = f"WITH dedges(src, dst) AS (VALUES {vals})" + hits_sql_body(n_iters)
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_gap_fill_interpolates_interior_gaps(spark, tmp_path):
    import datetime as dt

    from platform_etl_drug_disease_spark.plans.events_time import hourly_gap_fill

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # type "a": hours 0 and 3 observed (values 1.0 and 7.0) -> hours 1,2
        # interpolated at 3.0 and 5.0
        (1, base, 1, "a", 1.0, None),
        (2, base + dt.timedelta(hours=3), 1, "a", 7.0, None),
        # type "b": single hour -> nothing to fill
        (3, base, 2, "b", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path / "gapfill")
    df.write.parquet(sf + "/events.parquet")
    got = {
        (r["event_type"], r["hour_ts"]): (r["value_filled"], r["was_missing"])
        for r in hourly_gap_fill(spark, sf).collect()
    }
    assert got[("a", "2024-01-01 00:00:00")] == (1.0, 0)
    assert got[("a", "2024-01-01 01:00:00")] == (3.0, 1)
    assert got[("a", "2024-01-01 02:00:00")] == (5.0, 1)
    assert got[("a", "2024-01-01 03:00:00")] == (7.0, 0)
    assert got[("b", "2024-01-01 00:00:00")] == (4.0, 0)
    assert len(got) == 5


def test_nucleus_selection_matches_naive_cumsum(spark):
    """The two-phase (histogram + boundary-bucket) nucleus selection must
    equal the naive per-doc window-cumsum selection on data engineered so
    the boundary bucket BINDS (several docs share the boundary score and
    only some of them are kept)."""
    from pyspark.sql import Window

    from platform_etl_drug_disease_spark.plans.quality_lm import (
        source_nucleus_selection,
    )

    # Worked example of the boundary semantics being checked: masses
    # 0.4, 0.3, 0.3, 0.3, 0.2 (tot=1.5, target 0.75) keep 0.4 and only the
    # FIRST 0.3-score doc (cum_before 0.7 < 0.75); the second 0.3 doc has
    # cum_before 1.0 and is dropped. Verified here on the REAL documents
    # table so the scores come through the production tokenizer.
    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (r["n_docs"], r["n_kept"], round(r["kept_mass"], 6))
        for r in source_nucleus_selection(spark, sf).collect()
    }

    from platform_etl_drug_disease_spark.operators import text as tx
    from platform_etl_drug_disease_spark.schemas import load_table

    scored = (
        load_table(spark, sf, "documents", ["doc_id", "text", "source"])
        .select(
            "doc_id", "source",
            tx.quality_score("text").cast("decimal(18,6)").alias("q"),
        )
        .where(F.col("q") > 0)
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = scored.groupBy("source").agg(
        F.sum("q").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    naive = (
        scored.withColumn("cum", F.sum("q").over(w))
        .join(tot, "source")
        .where(2 * (F.col("cum") - F.col("q")) < F.col("tot"))
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("q").cast("double").alias("kept_mass"),
        )
    )
    want = {
        r["source"]: (r["n_docs"], r["n_kept"], round(r["kept_mass"], 6))
        for r in naive.collect()
    }
    assert got == want and len(got) >= 2
    # the kept share must sit strictly between 0 and 1 somewhere (the
    # selection actually cuts) — guards against degenerate all-kept data
    assert any(k[1] < k[0] for k in got.values())


def test_price_mad_matches_bruteforce(spark):
    """Histogram-rank exact median/MAD must equal the brute-force
    sort-in-python computation (quantile_cont arithmetic: lo+(hi-lo)*0.5),
    including the 3*1.4826*MAD outlier census."""
    from platform_etl_drug_disease_spark.plans.relational import price_mad_stats

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: (r["n_rows"], r["median"], r["mad"], r["n_outliers"])
        for r in price_mad_stats(spark, sf).collect()
    }
    rows = (
        spark.read.parquet(sf + "/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    )
    from collections import defaultdict

    by_flag = defaultdict(list)
    for r in rows:
        by_flag[r["l_returnflag"]].append(r["l_extendedprice"])

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        lo, hi = xs[(n + 1) // 2 - 1], xs[(n + 2) // 2 - 1]
        return lo + (hi - lo) * 0.5

    for f, xs in by_flag.items():
        m = med(xs)
        d = [abs(x - m) for x in xs]
        mad = med(d)
        outs = sum(1 for x in d if x > 3.0 * 1.4826 * mad)
        assert got[f] == (len(xs), m, mad, outs), f
    assert set(got) == set(by_flag)


def test_dsir_selects_target_like_documents(spark, tmp_path):
    """DSIR importance weights must rank target-vocabulary documents above
    off-domain ones: with target domain 'src0' speaking a distinctive
    vocabulary, planted target-like docs in the raw pool get selected
    (top-20% by logw) while pure-noise docs do not — the core property of
    importance resampling (Xie et al. 2023)."""
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        dsir_importance_stats,
    )

    tgt_vocab = "alignment scaling transformer corpus tokenizer"
    noise_vocab = "zebra quartz violin marmalade bicycle"
    rows = []
    # 20 target docs define the domain
    for i in range(20):
        rows.append((i, f"{tgt_vocab} study {i % 3}", "en", "src0", 50))
    # raw pool: 5 planted target-like docs + 35 noise docs
    for i in range(5):
        rows.append((100 + i, f"{tgt_vocab} field report {i}", "en", "planted", 50))
    for i in range(35):
        # unique trailing token per doc → no logw ties across noise docs,
        # so the disc-quantile cut selects an exact count
        rows.append((200 + i, f"{noise_vocab} item {i % 7} u{i}", "en", "noise", 50))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["source"]: r for r in dsir_importance_stats(spark, str(tmp_path)).collect()}
    assert out["planted"]["n_selected"] == 5, "every target-like raw doc selected"
    assert out["planted"]["sel_rate"] == 1.0
    # the raw-pool top-20% cut keeps ~9 of 40 docs (disc-quantile >= is
    # inclusive; md5-bucket collisions can tie a couple more): all 5
    # planted docs plus a small noise remainder — never a material fraction
    assert out["noise"]["n_selected"] <= 7, "noise docs flooding the selection"
    assert out["noise"]["sel_rate"] <= 0.2
    assert out["noise"]["sel_rate"] < out["planted"]["sel_rate"]
    assert out["planted"]["mean_logw"] > out["noise"]["mean_logw"]


def test_doremi_upweights_underfit_domain(spark, tmp_path):
    """DoReMi-style reweighting must upweight the lexically-distinct domain:
    a source whose vocabulary diverges hard from the corpus mix has the
    highest excess KL and receives a weight ABOVE its baseline token share,
    while a source that matches the corpus distribution is downweighted
    toward (or below) baseline. Weights are a distribution (sum ~ 1)."""
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        doremi_mixture_stats,
    )

    common = "the data table row value column filter join group"
    exotic = "quasar nebular synapse chitin obsidian fjord"
    rows = []
    # two mainstream sources speaking the corpus vocabulary
    for i in range(30):
        rows.append((i, f"{common} item {i % 5}", "en", "web_a", 50))
        rows.append((100 + i, f"{common} entry {i % 5}", "en", "web_b", 50))
    # one small distinct domain
    for i in range(10):
        rows.append((200 + i, f"{exotic} sample {i % 3}", "en", "exotic", 50))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["source"]: r for r in doremi_mixture_stats(spark, str(tmp_path)).collect()}
    assert set(out) == {"web_a", "web_b", "exotic"}
    assert out["exotic"]["excess_kl"] > out["web_a"]["excess_kl"]
    assert out["exotic"]["excess_kl"] > out["web_b"]["excess_kl"]
    # EG step: underfit domain beats its baseline share; mainstream doesn't
    assert out["exotic"]["doremi_weight"] > out["exotic"]["baseline_share"]
    assert out["web_a"]["doremi_weight"] <= out["web_a"]["baseline_share"] + 1e-9
    total = sum(r["doremi_weight"] for r in out.values())
    assert abs(total - 1.0) < 1e-5
    for r in out.values():
        assert r["excess_kl"] >= -1e-9, "KL must be non-negative"


def test_jl_projection_preserves_planted_twins(spark):
    """The JL guarantee the catalog query sells: 64→16 ±1 projection keeps
    every LARGE-gap neighbor (the planted cosine≈0.999 twin lands in the
    projected top-5 for all queries) even though hairline rankings on the
    near-uniform tail scramble (recall@5 well below 1). Deterministic:
    fixed seed matrix + fixed fixture."""
    from platform_etl_drug_disease_spark.plans.similarity import (
        jl_projection_recall,
    )

    rows = jl_projection_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["twin_in_top5"] == 1, f"q {r['q_id']}: twin lost in projection"
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall_at5"] - r["n_hits"] / 5.0) < 1e-12


def test_doremi_quota_sums_to_budget_and_tracks_weights(spark):
    """The quota composition's two contracts: quotas sum EXACTLY to the
    1M-token budget (largest-remainder, never floor-undershoot), and quota
    ordering follows weight ordering (monotone apportionment)."""
    from platform_etl_drug_disease_spark.plans.quality_lm import (
        doremi_token_quota,
    )

    rows = doremi_token_quota(spark, SF_SMOKE).collect()
    assert sum(r["token_quota"] for r in rows) == 1_000_000
    by_w = sorted(rows, key=lambda r: (-r["doremi_weight"], r["source"]))
    quotas = [r["token_quota"] for r in by_w]
    # monotone within 1 unit (remainder bumps can give +1 to a lower weight)
    assert all(a >= b - 1 for a, b in zip(quotas, quotas[1:]))
