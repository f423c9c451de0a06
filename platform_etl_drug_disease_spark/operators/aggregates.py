"""Aggregation operators (SURVEY.md A1-A10).

Covers the reference's full aggregation surface: grouped collect_set/list
(adjacency lists sim.sc:72-73, nested struct rollups sim.sc:248-254),
approx distinct degree (sim.sc:74), counts (sim.sc:296), first-carry
(sim.sc:398), pivot (sim.sc:433-437), grouped top-k score lists
(sim.sc:297-298), distinct (sim.sc:54), and the harmonic fold (A10, in
functions/harmonic.py).

Scale notes baked in:
- ``grouped_top_k`` has two implementations: the reference's
  collect-then-slice (unbounded per-group state — fine when groups are small)
  and a window-ranked pre-filter (bounded state; the 100-TB default).
- ``pivot_scores`` REQUIRES explicit pivot values: without them Spark runs an
  extra distinct-scan job over the full input (SURVEY.md risk register).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_collect_set(
    df: DataFrame, keys: list[str], value: str, out: str, sort: bool = True
) -> DataFrame:
    """A1: distinct values per group (adjacency list, sim.sc:72-73).
    ``sort=True`` canonicalizes the array order (collect_set order is
    partition-dependent) so downstream comparisons are deterministic."""
    arr = F.collect_set(F.col(value))
    if sort:
        arr = F.sort_array(arr)
    return df.groupBy(*keys).agg(arr.alias(out))


def grouped_top_k(
    df: DataFrame,
    keys: list[str],
    score: str,
    k: int = 100,
    out: str = "scores",
    bounded: bool = True,
) -> DataFrame:
    """A8: per-group descending top-k score array.

    bounded=True (default; the at-scale plan): window ``row_number() <= k``
    pre-filter bounds both shuffle volume and per-group state before the
    collect. bounded=False reproduces the reference's
    ``slice(sort_array(collect_list(c), asc=false), 1, k)`` (sim.sc:297-298)
    exactly — unbounded collect state, only safe when group sizes are known
    small. Both produce identical results (modulo tie order, which the
    descending sort re-canonicalizes).
    """
    if bounded:
        w = Window.partitionBy(*keys).orderBy(F.col(score).desc())
        ranked = df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k)
        return ranked.groupBy(*keys).agg(
            F.sort_array(F.collect_list(F.col(score)), asc=False).alias(out)
        )
    return df.groupBy(*keys).agg(
        F.slice(F.sort_array(F.collect_list(F.col(score)), asc=False), 1, k).alias(out)
    )


def pivot_scores(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    pivot_values: list[str],
    agg: Column,
    fill: float | None = 0.0,
) -> DataFrame:
    """A7: long→wide pivot with EXPLICIT values (sim.sc:433-437 pivots
    datasource→score then ``na.fill(0.0)``). Explicit values skip the
    distinct-scan pre-job and fix the output column order."""
    out = df.groupBy(*keys).pivot(pivot_col, pivot_values).agg(agg)
    if fill is not None:
        out = out.na.fill(fill, subset=pivot_values)
    return out
