"""Two-phase ordered-scan primitives (operators/scans.py) — equivalence
with the naive single-window forms they replace, plus the plan_lint rule
that flags the naive forms.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.scans import (
    bounded_min_k,
    keyed_lag_delta,
    keyed_running_sum,
)
from platform_etl_drug_disease_spark.plan_lint import (
    lint,
    low_card_running_windows,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def skewed(spark):
    """3 keys × interleaved ids, values chosen so order errors change sums."""
    rows = [
        Row(k=["a", "b", "c"][i % 3], i=i, v=(i * 37) % 101) for i in range(500)
    ]
    return spark.createDataFrame(rows)


def test_running_sum_matches_naive_window(spark, skewed):
    naive_w = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = skewed.withColumn("cum", F.sum("v").over(naive_w))
    two_phase = keyed_running_sum(skewed, ["k"], "i", "v", "cum", n_buckets=7)
    assert sorted(naive.collect()) == sorted(two_phase.collect())


def test_running_sum_empty_input(spark, skewed):
    empty = skewed.where(F.lit(False))
    out = keyed_running_sum(empty, ["k"], "i", "v", "cum")
    assert out.count() == 0


def test_lag_delta_matches_naive_window(spark, skewed):
    naive_w = Window.partitionBy("k").orderBy("i")
    naive = (
        skewed.select("k", (F.col("i") - F.lag("i", 1).over(naive_w)).alias("gap"))
        .where(F.col("gap").isNotNull())
    )
    two_phase = keyed_lag_delta(skewed, ["k"], "i", n_buckets=7)
    assert sorted(naive.collect()) == sorted(two_phase.collect())


def test_lag_delta_single_bucket_and_empty(spark, skewed):
    # n_buckets larger than the id range: every bucket holds ≤ a few rows,
    # so almost all gaps come from boundary stitches.
    naive_w = Window.partitionBy("k").orderBy("i")
    naive = (
        skewed.select("k", (F.col("i") - F.lag("i", 1).over(naive_w)).alias("gap"))
        .where(F.col("gap").isNotNull())
    )
    boundary_heavy = keyed_lag_delta(skewed, ["k"], "i", n_buckets=1000)
    assert sorted(naive.collect()) == sorted(boundary_heavy.collect())
    assert keyed_lag_delta(skewed.where(F.lit(False)), ["k"], "i").count() == 0


def test_bounded_min_k_matches_window_form(spark, skewed):
    hashed = skewed.select("k", F.md5(F.col("i").cast("string")).alias("h"))
    rn = F.row_number().over(Window.partitionBy("k").orderBy("h"))
    naive = (
        hashed.withColumn("rn", rn)
        .where(F.col("rn") <= 10)
        .groupBy("k")
        .agg(F.array_sort(F.collect_list("h")).alias("mink"))
    )
    two_phase = bounded_min_k(hashed, ["k"], "h", 10, "mink", n_buckets=16)
    assert sorted(naive.collect()) == sorted(two_phase.collect())


def test_bounded_min_k_keeps_duplicates(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=x) for x in [3, 1, 1, 2, 2, 2, 9]]
    )
    out = bounded_min_k(df, ["k"], "v", 4, "mink", n_buckets=4).collect()
    assert out[0].mink == [1, 1, 2, 2]


# --- plan_lint rule ---------------------------------------------------------


def _naive_low_card_window(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.select("doc_id", "lang", F.length("text").alias("n")).withColumn(
        "cum", F.sum("n").over(w)
    )


def test_lint_flags_low_card_running_window(spark):
    hits = low_card_running_windows(_naive_low_card_window(spark))
    assert hits and "low-cardinality" in hits[0]
    assert any("low-cardinality" in w for w in lint(_naive_low_card_window(spark)))


def test_lint_clears_window_over_aggregated_input(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    agg = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy("source")
    ranked = agg.withColumn("rk", F.row_number().over(w))
    assert low_card_running_windows(ranked) == []


def test_lint_clears_high_card_partition(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    df = ev.withColumn("rk", F.row_number().over(w))
    assert low_card_running_windows(df) == []


@pytest.mark.parametrize(
    "name",
    [
        "corpus_release_pipeline",
        "source_overlap_jaccard",
        "event_interarrival_stats",
    ],
)
def test_rewritten_plans_pass_lint(spark, name):
    """The three serialization points plan without any
    low-cardinality ordered window over unaggregated input."""
    from platform_etl_drug_disease_spark.plans import merged_catalog

    q, _ = merged_catalog()
    df = q[name](spark, SF_SMOKE)
    assert low_card_running_windows(df) == []


def test_lint_not_fooled_by_broadcast_aggregated_dimension(spark):
    """An aggregate ANYWHERE in the window's subtree must not clear the
    rule: a raw fact table joined to a broadcast aggregated
    dimension still funnels the whole fact table through the
    low-cardinality sort. The rule must track the aggregate along the data
    path, not merely find one in the tree."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", F.length("text").alias("n")
    )
    dim = docs.groupBy("lang").agg(F.count("*").alias("lang_total"))
    joined = docs.join(F.broadcast(dim), "lang")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = joined.withColumn("cum", F.sum("n").over(w))
    hits = low_card_running_windows(df)
    assert hits and "low-cardinality" in hits[0]


def test_quantiles_from_histogram_matches_bruteforce(spark):
    """Property: histogram rank arithmetic == sorted-list indexing for BOTH
    quantile modes, over multisets dense with duplicates (the regime where
    cum>=pos boundary logic can silently drift by one bucket)."""
    import math
    import random

    from platform_etl_drug_disease_spark.operators.scans import (
        quantiles_from_histogram,
        value_histogram,
    )

    rng = random.Random(42)
    ps = {"p10": 0.10, "p25": 0.25, "p50": 0.50, "p75": 0.75, "p99": 0.99}
    rows = []
    data: dict[str, list[float]] = {}
    for key, n in [("a", 1), ("b", 2), ("c", 7), ("d", 100), ("e", 101)]:
        # values drawn from a tiny grid -> many exact ties
        xs = [float(rng.randint(0, 9)) for _ in range(n)]
        data[key] = xs
        rows += [(key, x) for x in xs]
    df = spark.createDataFrame(rows, "k string, v double")
    hist = value_histogram(df, ["k"], "v")

    def brute(xs, p, mode):
        s = sorted(xs)
        n = len(s)
        if mode == "disc":
            return s[max(1, math.ceil(n * p)) - 1]
        pos = (n - 1) * p + 1.0
        lo, hi = s[math.floor(pos) - 1], s[math.ceil(pos) - 1]
        return lo + (hi - lo) * (pos - math.floor(pos))

    for mode in ("disc", "cont"):
        got = {
            r["k"]: {lab: r[lab] for lab in ps}
            for r in quantiles_from_histogram(hist, ["k"], "v", ps, mode).collect()
        }
        for key, xs in data.items():
            for lab, p in ps.items():
                assert got[key][lab] == brute(xs, p, mode), (mode, key, lab)
