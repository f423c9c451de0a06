"""Filter / predicate operators (SURVEY.md P6-P10).

All predicate forms the reference uses: numeric threshold (``score > 0.5``
sim.sc:217, ``harmonic > 0.1`` sim.sc:467), string equality
(``sourceID = 'europepmc'`` sim.sc:233), array-size guards
(``size(ancestors) > 0`` sim.sc:179), compound boolean with array containment
(sim.sc:47-49), and post-pivot null fill (sim.sc:437).

These are deliberately thin: the value is keeping filters *declarative* (SQL
string or Column) so Catalyst pushes them into the parquet scan
(PushedFilters) — verified in tests/test_plans_explain.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def where(df: DataFrame, predicate: str | Column) -> DataFrame:
    """P6/P7/P9: any boolean predicate, SQL-string or Column form."""
    return df.where(predicate)


def where_array_nonempty(df: DataFrame, array_col: str) -> DataFrame:
    """P8: keep rows whose array column is non-empty (sim.sc:179)."""
    return df.where(F.size(F.col(array_col)) > 0)
