"""Data-quality constraint audit: declarative checks compiled to aggregate
plans, one summary row per check.

Every production corpus pipeline gates promotion on constraint audits
(uniqueness of keys, referential integrity between fact and dim, null and
range budgets). These builders express each check as a DataFrame aggregate
— full scans with map-side partial aggregation, no collect, no UDF — and
``audit`` unions them into one (check_name, n_checked, n_violations) table.

The anti-join for referential integrity is the scale-sensitive piece: the
child side streams, the parent KEY SET is what shuffles (distinct-reduced
first). For a dimension-sized parent Spark broadcasts it; for fact-to-fact
references AQE plans a shuffled hash join on the distinct keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _summary(name: str, checked: Column, violations: Column):
    return [
        F.lit(name).alias("check_name"),
        checked.cast("bigint").alias("n_checked"),
        violations.cast("bigint").alias("n_violations"),
    ]


def check_unique(df: DataFrame, keys: Sequence[str], name: str) -> DataFrame:
    """Rows carrying a duplicated key tuple. Two aggregates: per-key counts
    (map-side combined), then one global roll-up."""
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        *_summary(
            name,
            F.sum("c"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))),
        )
    )


def check_not_null(df: DataFrame, col: str, name: str) -> DataFrame:
    return df.agg(
        *_summary(name, F.count(F.lit(1)), F.sum(F.col(col).isNull().cast("long")))
    )


def check_in_range(
    df: DataFrame, col: str, lo: float, hi: float, name: str
) -> DataFrame:
    """Non-null values outside [lo, hi]."""
    v = F.col(col)
    bad = v.isNotNull() & ((v < lo) | (v > hi))
    return df.agg(*_summary(name, F.count(v), F.sum(bad.cast("long"))))


def check_references(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    name: str,
) -> DataFrame:
    """Child rows whose non-null key has no parent (orphans), via left-anti
    join against the distinct-reduced parent key set."""
    parents = parent.select(F.col(parent_key).alias(child_key)).distinct()
    kids = child.select(child_key).where(F.col(child_key).isNotNull())
    orphans = kids.join(parents, child_key, "left_anti").agg(
        F.count(F.lit(1)).alias("v")
    )
    total = kids.agg(F.count(F.lit(1)).alias("t"))
    return total.crossJoin(F.broadcast(orphans)).select(
        *_summary(name, F.col("t"), F.col("v"))
    )


def audit(checks: Sequence[DataFrame]) -> DataFrame:
    """Union the one-row check summaries into the audit table."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def key_skew_audit(df: DataFrame, key: str) -> DataFrame:
    """Join-key skew diagnosis: the pre-flight check that decides whether a
    planned join/groupBy on ``key`` needs salting (operators/joins.py:
    salted_join) or AQE skew splitting before it runs at corpus scale.

    One map-side-combining groupBy(key) then one tiny aggregate over the
    per-key counts (key-cardinality rows, never the input). Reports row and
    key counts, the hottest key and its count, the max/mean skew factor,
    and how much of the table the top key owns — the two ratios that
    predict a straggler task. Hottest-key count ties break toward the
    lexicographically-largest key string (max_by struct ordering; mirrored
    as ORDER BY c DESC, k DESC in the SQL oracle)."""
    counts = (
        df.where(F.col(key).isNotNull())
        .groupBy(F.col(key).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    order = F.struct(F.col("c").alias("c"), F.col("k").alias("k"))
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.max_by("k", order).alias("hottest_key"),
    ).select(
        F.lit(key).alias("key"),
        "n_rows",
        "n_keys",
        "hottest_key",
        "max_key_rows",
        (F.col("max_key_rows") * F.col("n_keys") * F.lit(1.0) / F.col("n_rows"))
        .alias("skew_factor"),
        (F.col("max_key_rows") * F.lit(1.0) / F.col("n_rows"))
        .alias("top_key_share"),
    )
