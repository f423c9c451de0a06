"""Unit tests for the operator library on tiny literal DataFrames —
the edge cases the DuckDB oracle can't isolate (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators import (
    aggregates as agg,
    arrays as arr,
    joins as jn,
    windows as win,
)


def test_with_columns_and_drop(spark):
    df = spark.createDataFrame([(2,)], "a: int")
    out = df.withColumns({"b": F.expr("a * 10")}).drop("a")
    assert out.columns == ["b"]
    assert out.collect()[0]["b"] == 20


def test_semi_anti_partition_rows(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k: int")
    right = spark.createDataFrame([(2,), (3,), (3,)], "k: int")
    semi = jn.semi_join(left, right, ["k"])
    anti = jn.anti_join(left, right, ["k"])
    assert {r["k"] for r in semi.collect()} == {2, 3}
    assert {r["k"] for r in anti.collect()} == {1}
    assert semi.count() + anti.count() == left.count()


def test_annotate_edges_double_join(spark):
    edges = spark.createDataFrame([("a", "b", 0.9)], "src: string, dst: string, w: double")
    dim = spark.createDataFrame(
        [("a", "gene_a"), ("b", "gene_b")], "acc: string, gene: string"
    )
    out = jn.annotate_edges(edges, dim, ("src", "dst"), "acc", {"gene": "gene"})
    row = out.collect()[0]
    assert row["gene_src"] == "gene_a" and row["gene_dst"] == "gene_b"


def test_annotate_edges_inner_drops_unmatched(spark):
    edges = spark.createDataFrame([("a", "zz", 1.0)], "src: string, dst: string, w: double")
    dim = spark.createDataFrame([("a", "g")], "acc: string, gene: string")
    assert jn.annotate_edges(edges, dim, ("src", "dst"), "acc", {"gene": "g"}).count() == 0


def test_symmetrize_both_directions_no_implicit_distinct(spark):
    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "b", 0.9), ("c", "c", 0.5), ("b", "a", 0.1)],
        "s: string, d: string, w: double",
    )
    out = jn.symmetrize(edges, "s", "d")
    assert out.columns == ["s", "d", "w"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted([
        ("a", "b", 0.9), ("b", "a", 0.9),  # both directions, w carried
        ("a", "b", 0.9), ("b", "a", 0.9),  # the duplicate input row stays
        ("c", "c", 0.5), ("c", "c", 0.5),  # a self-loop appears twice
        ("b", "a", 0.1), ("a", "b", 0.1),
    ])


def test_salted_join_matches_plain(spark):
    left = spark.createDataFrame([(1, "x")] * 50 + [(2, "y")], "k: int, v: string")
    right = spark.createDataFrame([(1, 10), (2, 20)], "k: int, p: int")
    plain = left.join(right, "k").groupBy("k").count()
    salted = jn.salted_join(left, right, "k").groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_grouped_top_k_bounded_equals_reference_form(spark):
    import random

    rnd = random.Random(7)
    rows = [(i % 5, rnd.random()) for i in range(500)]
    df = spark.createDataFrame(rows, "k: int, score: double")
    a = agg.grouped_top_k(df, ["k"], "score", k=10, bounded=True).collect()
    b = agg.grouped_top_k(df, ["k"], "score", k=10, bounded=False).collect()
    am = {r["k"]: r["scores"] for r in a}
    bm = {r["k"]: r["scores"] for r in b}
    assert am == bm


def test_pivot_explicit_values_and_fill(spark):
    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "b", 2.0), ("g2", "a", 3.0)],
        "k: string, p: string, v: double",
    )
    out = agg.pivot_scores(df, ["k"], "p", ["a", "b", "c"], F.first("v"), fill=0.0)
    row = {r["k"]: r for r in out.collect()}
    assert row["g2"]["b"] == 0.0 and row["g2"]["c"] == 0.0  # na.fill path (sim.sc:437)
    assert row["g1"]["b"] == 2.0


def test_flatten_distinct_replaces_udf(spark):
    df = spark.createDataFrame([([["a", "b"], ["b", "c"]],)], "xs: array<array<string>>")
    got = df.select(F.sort_array(arr.flatten_distinct("xs")).alias("f")).collect()[0]["f"]
    assert got == ["a", "b", "c"]


def test_overlap_coefficient_null_safe(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["b"]), ([], ["x"]), (None, ["x"])],
        "a: array<string>, b: array<string>",
    )
    got = df.select(arr.overlap_coefficient("a", "b").alias("o")).collect()
    assert got[0]["o"] == pytest.approx(0.5)
    assert got[1]["o"] is None  # empty → null, explicit (sim.sc:503 div-by-zero)
    assert got[2]["o"] is None


def test_window_top_n_and_running(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 5.0), ("b", 1, 1.0)],
        "k: string, seq: int, v: double",
    )
    top = win.top_n_per_group(df, ["k"], [F.col("v").desc()], n=1).collect()
    assert {(r["k"], r["v"]) for r in top} == {("a", 20.0), ("b", 1.0)}


def test_asof_join_backward_inclusive(spark):
    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 5, "t3")],
        "sym: string, ts: long, trade: string",
    )
    quotes = spark.createDataFrame(
        [("A", 8, 1.0), ("A", 10, 2.0), ("A", 15, 3.0), ("C", 1, 9.0)],
        "sym: string, qts: long, px: double",
    )
    out = jn.asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="qts",
        payload={"px": "px"}, matched_ts="m_ts",
    )
    rows = {r["trade"]: (r["px"], r["m_ts"]) for r in out.collect()}
    assert rows["t1"] == (2.0, 10)   # equal ts matches (inclusive)
    assert rows["t2"] == (3.0, 15)   # latest at-or-before
    assert rows["t3"] == (None, None)  # no prior quote -> left-outer nulls
    assert out.count() == 3


def test_band_join_bucketed_boundaries(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00")], "lid: long, p_ts: string"
    ).select("lid", F.to_timestamp("p_ts").alias("p_ts"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 00:05:00"),   # exactly -300s: inside
         (11, "2024-01-01 00:15:00"),   # exactly +300s: inside
         (12, "2024-01-01 00:04:59"),   # 301s before: outside
         (13, "2024-01-01 00:10:00")],  # same instant: inside
        "rid: long, e_ts: string",
    ).select("rid", F.to_timestamp("e_ts").alias("e_ts"))
    out = jn.band_join_bucketed(left, right, "p_ts", "e_ts", band_seconds=300)
    assert sorted(r["rid"] for r in out.collect()) == [10, 11, 13]


def test_asof_join_matches_naive_reference(spark):
    import random

    rnd = random.Random(11)
    left = [(i, rnd.choice("abc"), rnd.randrange(100)) for i in range(60)]
    raw_right = [(rnd.choice("abc"), rnd.randrange(100), float(j)) for j in range(40)]
    best: dict = {}
    for k, ts, p in raw_right:
        best[(k, ts)] = max(best.get((k, ts), -1.0), p)
    ldf = spark.createDataFrame(left, "lid: long, k: string, ts: long")
    rdf = spark.createDataFrame(
        [(k, ts, p) for (k, ts), p in best.items()], "k: string, rts: long, p: double"
    )
    out = jn.asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="rts", payload={"p": "p"})
    got = {r["lid"]: r["p"] for r in out.collect()}
    assert len(got) == len(left)
    for lid, k, ts in left:
        cand = [(t, p) for (kk, t), p in best.items() if kk == k and t <= ts]
        expected = max(cand)[1] if cand else None
        assert got[lid] == expected, (lid, k, ts)


def test_grouped_zscore_known_values_and_degenerate_group(spark):
    from platform_etl_drug_disease_spark.operators.pandas_ops import grouped_zscore

    df = spark.createDataFrame(
        [("g1", 1, 1.0), ("g1", 2, 2.0), ("g1", 3, 3.0), ("g2", 4, 5.0), ("g2", 5, 5.0)],
        "k: string, id: long, v: double",
    )
    out = {r["id"]: r["zscore"] for r in grouped_zscore(df, ["k"], "id", "v").collect()}
    # g1: mean 2, pop std sqrt(2/3): z = ±1.2247, 0
    assert out[1] == -1.2247 and out[3] == 1.2247
    assert out[2] == 0.0
    # zero-variance group -> 0.0, not NaN/inf
    assert out[4] == 0.0 and out[5] == 0.0


def test_dround_engine_deterministic_at_half_boundary(spark):
    """Regression: round() on 56671.724449999994 gave .7244 in Spark but
    .7245 in DuckDB (flagship at sf0.1). dround specifies the arithmetic
    (floor(x*10^d + 0.5)/10^d) so both engines compute identical bits."""
    import duckdb

    from platform_etl_drug_disease_spark.plans._util import dround

    x = 56671.724449999994
    df = spark.createDataFrame([(x,)], "v: double")
    got = df.select(dround("v", 4).alias("r")).collect()[0]["r"]
    duck = duckdb.sql(
        f"SELECT floor(CAST({x!r} AS DOUBLE) * 10000.0 + 0.5) / 10000.0"
    ).fetchone()[0]
    assert got == duck == 56671.7245


def test_approx_percentile_close_to_exact(spark):
    from platform_etl_drug_disease_spark.plans.relational import (
        price_quantiles_per_flag,
        price_tdigest_quantiles,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
             for r in price_quantiles_per_flag(spark, sf).collect()}
    # approx_pcts is a driver-safe joined string (see plans/_util.arr_join)
    approx = {r["l_returnflag"]: [float(x) for x in r["approx_pcts"].split(",")]
              for r in price_tdigest_quantiles(spark, sf).collect()}
    for flag, (p25, p50, p75) in exact.items():
        for a, e in zip(approx[flag], (p25, p50, p75)):
            assert abs(a - e) / e < 0.02, (flag, a, e)


def test_pagerank_matches_replay_and_conserves_mass(spark):
    """3-iteration PageRank on a symmetric star+path graph must match a
    literal replay of the same update, and (no dangling nodes) keep
    total rank mass at 1."""
    from pyspark.sql import Row

    from platform_etl_drug_disease_spark.operators.graph_algos import pagerank

    # star 0-{1,2,3} plus path 3-4: symmetrize
    undirected = [(0, 1), (0, 2), (0, 3), (3, 4)]
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in undirected]
        + [Row(src=b, dst=a) for a, b in undirected]
    )
    got = {r.node: r.rank for r in pagerank(edges, n_iters=3).collect()}

    n, d = 5, 0.85
    deg = {0: 3, 1: 1, 2: 1, 3: 2, 4: 1}
    r = {v: 1.0 / n for v in range(n)}
    adj_in = {0: [1, 2, 3], 1: [0], 2: [0], 3: [0, 4], 4: [3]}
    for _ in range(3):
        r = {
            v: (1 - d) / n + d * sum(r[u] / deg[u] for u in adj_in[v])
            for v in range(n)
        }
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[0] == max(got.values())  # hub dominates


def test_rolling_zscore_known_values_and_guards(spark):
    from pyspark.sql import Row

    from platform_etl_drug_disease_spark.operators.windows import rolling_zscore

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]
    df = spark.createDataFrame(
        [Row(k="a", i=i, v=v) for i, v in enumerate(vals)]
        + [Row(k="b", i=i, v=7.0) for i in range(7)]  # zero-variance group
    )
    out = {(r.k, r.i): r.z
           for r in rolling_zscore(df, ["k"], ["i"], "v", 5).collect()}
    # first 5 rows of each key: incomplete trailing frame -> null
    for i in range(5):
        assert out[("a", i)] is None and out[("b", i)] is None
    # frame [1..5]: mean 3, sample var 2.5 -> z = (100-3)/sqrt(2.5)
    assert out[("a", 5)] == pytest.approx(97.0 / 2.5**0.5, rel=1e-12)
    # full frame but zero variance -> null, not inf
    assert out[("b", 5)] is None and out[("b", 6)] is None
    # one-step-ahead property: appending rows never changes earlier scores
    shorter = {(r.k, r.i): r.z
               for r in rolling_zscore(df.where("i < 6 or k = 'a'"),
                                       ["k"], ["i"], "v", 5).collect()}
    for key, z in shorter.items():
        assert (z is None and out[key] is None) or z == out[key]


def test_rolling_zscore_matches_python_model_on_random_series(spark):
    """Property (hypothesis): the Spark operator equals a literal Python
    model — decimal-quantized frame sums, same IEEE expression — on random
    series with nulls, across several keys in one DataFrame."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Row

    from platform_etl_drug_disease_spark.operators.windows import rolling_zscore

    def model(series, win=4):
        out = []
        for i, v in enumerate(series):
            frame = series[max(0, i - win):i]
            vals = [Decimal(float(x)).quantize(Decimal("0.000001"),
                                               ROUND_HALF_UP)
                    for x in frame if x is not None]
            if v is None or len(frame) < win or len(vals) != win:
                out.append(None)
                continue
            s, ss = float(sum(vals)), float(sum(x * x for x in vals))
            var = (ss - s * s / win) / (win - 1)
            out.append((float(v) - s / win) / math.sqrt(var) if var > 0 else None)
        return out

    vals = st.one_of(st.none(), st.floats(-1e3, 1e3, allow_nan=False))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.lists(vals, min_size=1, max_size=12),
                    min_size=1, max_size=3))
    def check(series_per_key):
        rows = [
            Row(k=str(ki), i=i, v=v)
            for ki, series in enumerate(series_per_key)
            for i, v in enumerate(series)
        ]
        got = {
            (r.k, r.i): r.z
            for r in rolling_zscore(
                spark.createDataFrame(rows, "k string, i int, v double"),
                ["k"], ["i"], "v", 4,
            ).collect()
        }
        for ki, series in enumerate(series_per_key):
            want = model(series)
            for i, w in enumerate(want):
                g = got[(str(ki), i)]
                assert (g is None and w is None) or g == pytest.approx(
                    w, rel=1e-12
                ), (ki, i, g, w)

    check()
