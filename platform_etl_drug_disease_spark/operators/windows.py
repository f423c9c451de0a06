"""Window-function operators (SURVEY.md W1).

The reference uses no window functions — it ranks inside arrays
(sort_array + sequence position, sim.sc:297-337). At 100 TB window ranking is
the bounded-state form of per-group top-k/dedup/sessionization, so the engine
exposes it as first-class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_by: list[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def rank_in_group(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
    out: str = "rn",
    method: str = "row_number",
) -> DataFrame:
    """Attach a per-group rank (row_number | rank | dense_rank)."""
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    return df.withColumn(out, fn().over(w))


def top_n_per_group(
    df: DataFrame, keys: list[str], order_by: list[str | Column], n: int
) -> DataFrame:
    """Bounded-state per-group top-n (the scale-safe A8 alternative)."""
    return (
        rank_in_group(df, keys, order_by, out="__rn")
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def rolling_zscore(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
    value: str,
    window_rows: int = 5,
    out: str = "z",
) -> DataFrame:
    """Trailing-window anomaly score: each row's deviation from the mean of
    its previous ``window_rows`` rows, in units of that window's sample
    standard deviation — the streaming-shaped outlier detector (the frame
    never includes the current row, so the score is a true one-step-ahead
    residual and an incremental run over appended data scores new rows
    identically).

    Null unless the trailing frame is full (exactly ``window_rows`` prior
    non-null values) and has positive variance. Frame sums accumulate in
    exact DECIMAL — decimal(18,6) values and their decimal(37,12) squares
    are exactly representable in both Spark and DuckDB — so mean/variance
    and the score are bit-deterministic across engines and partitionings
    (same contract as plans/_util.dsum). One shuffle: the window's
    partitionBy; state per key is the ``window_rows`` frame."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(-window_rows, -1)
    )
    dv = F.col(value).cast("decimal(18,6)")
    n = F.count(value).over(w)
    s = F.sum(dv).over(w).cast("double")
    ss = F.sum(dv * dv).over(w).cast("double")
    var = (ss - s * s / n) / (n - F.lit(1))
    z = (F.col(value) - s / n) / F.sqrt(var)
    return df.withColumn(
        out, F.when((n == window_rows) & (var > 0), z)
    )


def funnel_flags(
    df: DataFrame,
    user_col: str,
    order_by: list[str | Column],
    steps: list[tuple[str, Column]],
    time_col: str | None = None,
) -> DataFrame:
    """Strict ordered-funnel evaluation: one row per ``user_col`` with a
    boolean ``reached_<step>`` per funnel stage. A stage-i event qualifies
    only if a qualifying stage-(i-1) event of the same user strictly
    precedes it in ``order_by`` order (include a unique tiebreaker column
    for determinism).

    All stages are running conditional counts over ONE window spec, so any
    number of stages costs a single user-keyed Exchange + Sort; the closing
    per-user groupBy reuses that partitioning. The per-stage-self-join
    formulation shuffles the event table once per stage and explodes on
    power users — this form scans once regardless of funnel depth.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df
    flags: list[str] = []
    for i, (name, pred) in enumerate(steps):
        q = pred if i == 0 else (
            pred & (F.sum(F.col(flags[-1]).cast("int")).over(w) > 0)
        )
        col = f"__q_{name}"
        out = out.withColumn(col, q)
        flags.append(col)
    aggs = [
        F.max(c).alias(f"reached_{n}") for c, (n, _) in zip(flags, steps)
    ]
    if time_col is not None:
        # first QUALIFYING event per stage — the input to time-to-convert
        aggs += [
            F.min(F.when(F.col(c), F.col(time_col))).alias(f"first_{n}_at")
            for c, (n, _) in zip(flags, steps)
        ]
    return out.groupBy(user_col).agg(*aggs)
