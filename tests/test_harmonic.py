"""Unit + property tests for the harmonic-sum scoring core (SURVEY.md A10).

Properties the reference's math implies (SURVEY.md §5.3): permutation
invariance of inputs (the operator sorts internally), monotonicity, and the
zeta(2) bound for unit scores.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.functions.harmonic import (
    harmonic_sum,
    top_k_sorted,
)


def _harmonic_py(xs, k=100, p=2.0):
    top = sorted(xs, reverse=True)[:k]
    return sum(e / (i + 1) ** p for i, e in enumerate(top))


def eval_harmonic(spark, xs, k=100):
    df = spark.createDataFrame([(xs,)], "xs: array<double>")
    row = df.select(
        harmonic_sum(top_k_sorted("xs", k=k)).alias("h")
    ).collect()[0]
    return row["h"]


def test_basic_fold(spark):
    # 3 scores, ranks 1,2,3: 1/1 + 0.5/4 + 0.25/9
    got = eval_harmonic(spark, [0.5, 1.0, 0.25])
    assert got == pytest.approx(1.0 + 0.5 / 4 + 0.25 / 9)


def test_empty_array_is_zero(spark):
    assert eval_harmonic(spark, []) == 0.0


def test_top_k_truncates(spark):
    got = eval_harmonic(spark, [1.0] * 10, k=3)
    assert got == pytest.approx(1.0 + 1.0 / 4 + 1.0 / 9)


def test_unit_scores_bounded_by_zeta2(spark):
    got = eval_harmonic(spark, [1.0] * 100)
    assert got < math.pi**2 / 6


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), max_size=30),
    st.randoms(),
)
def test_permutation_invariant_and_matches_python(spark, xs, rnd):
    shuffled = list(xs)
    rnd.shuffle(shuffled)
    a = eval_harmonic(spark, xs)
    b = eval_harmonic(spark, shuffled)
    assert a == b  # sort inside the operator → exact invariance
    assert a == pytest.approx(_harmonic_py(xs), abs=1e-12)
