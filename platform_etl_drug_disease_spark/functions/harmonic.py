"""Rank-weighted harmonic-sum scoring (SURVEY.md A8 + A10).

The reference's core scoring primitive (sim.sc:295-337): per group, take the
score list, sort descending, keep the top k=100, then fold
``sum_i(score_i / i^p)`` with p=2 — a rank-weighted harmonic sum whose upper
bound for unit scores is ``zeta(2) = pi^2/6``. The reference's max-normalized
variant (sim.sc:327-337) is not ported: no output of the DAG reads it.

Everything here is built from Spark's higher-order array functions
(``aggregate``/``zip_with``/``sequence``), exactly the idiom the reference
uses via SQL strings — JVM-side, codegen-friendly, no Python UDF.

Determinism: the fold runs over the *sorted* array, so the floating-point
accumulation order is fixed — results are reproducible across partitionings
and match a left-fold oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def top_k_sorted(col: Column | str, k: int = 100, asc: bool = False) -> Column:
    """Sort an array column and keep the first ``k`` elements.

    Mirrors ``slice(sort_array(collect_list(c), asc=false), 1, k)``
    (sim.sc:297-298). Use *after* a grouped collect; at 100-TB scale prefer
    :func:`platform_etl_drug_disease_spark.operators.aggregates.grouped_top_k`
    which bounds state with a window pre-filter before collecting.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.slice(F.sort_array(c, asc=asc), 1, k)


def harmonic_sum(scores: Column | str, exponent: float = 2.0) -> Column:
    """Fold ``sum_i(scores[i] / (i+1-1)^exponent)`` (1-based rank) over an
    already-sorted score array.

    Reference semantics: sim.sc:302-311 and 315-324 —
    ``aggregate(zip_with(xs, sequence(1, size(xs)), (e,i) -> e/pow(i,2)),
    0D, (a,e) -> a+e)``.
    """
    xs = F.col(scores) if isinstance(scores, str) else scores
    ranked = F.zip_with(
        xs,
        F.sequence(F.lit(1), F.greatest(F.size(xs), F.lit(1))),
        lambda e, i: e / F.pow(i.cast("double"), F.lit(float(exponent))),
    )
    fold = F.aggregate(ranked, F.lit(0.0), lambda acc, e: acc + e)
    # empty input: zip_with pads with null → null fold; define it as 0.0
    return F.when(F.size(xs) == 0, F.lit(0.0)).otherwise(fold)
