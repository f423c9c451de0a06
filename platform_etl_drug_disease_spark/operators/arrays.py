"""Array / higher-order-function operators (SURVEY.md §2.6-2.7, §2.9).

The reference does its set algebra at array granularity (array_intersect for
shared tissues sim.sc:149, array_union for neighbour∪self sim.sc:450,
array_except for repurposing candidates sim.sc:457/470/503/505) and its only
UDF — genAncestors, flatten+distinct over array<array<string>>
(sim.sc:171-176) — is replaced here by the built-in composition
``array_distinct(flatten(c))`` per the engine rule: never use a Python UDF
where a built-in composition exists (UDFs forfeit codegen and pay
serialization; SURVEY.md D1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def flatten_distinct(col: Column | str) -> Column:
    """D1 replacement: ``array<array<T>> -> array<T>`` flatten + dedupe
    (the reference's genAncestors UDF, sim.sc:171-176)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(F.flatten(c))


def overlap_coefficient(a: Column | str, b: Column | str) -> Column:
    """The reference's AE-profile overlap score (sim.sc:502-508 semantics):
    ``1 - size(array_except(a, b)) / size(a)`` — fraction of ``a``'s elements
    also in ``b``.

    Edge semantics, made EXPLICIT so they cannot shift with engine config:
    both degenerate inputs — ``a`` null and ``a`` empty — return null ("no
    profile to overlap"). The reference's raw expression is config-dependent
    here: its legacy runtime (``sizeOfNull = -1``) yields 0.0 for null input,
    while ANSI ``size`` semantics yield null; we pin the normalized
    null-means-absent form with an explicit ``when`` guard. Asserted in
    tests/test_operators_core.py::test_overlap_coefficient_null_safe."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    denom = F.nullif(F.size(ca).cast("double"), F.lit(0.0))
    return F.when(
        ca.isNotNull(),
        F.lit(1.0) - F.size(F.array_except(ca, cb)).cast("double") / denom,
    )
