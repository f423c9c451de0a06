"""Incremental aggregate-view maintenance: mergeable partial-aggregate
state tables.

A 100-TB corpus's rollups (per-source token totals, per-customer order
stats, per-domain quality summaries) cannot be recomputed from scratch on
every append. The standard fix is to materialize the aggregation's PARTIAL
state — per key: count + exact sums — and fold each new batch into it:
state ⊕ agg(batch) = agg(history ∪ batch). That works exactly when the
state is a commutative monoid, which is why the sums are stored as DECIMAL
(order-independent exact addition; doubles would drift with merge order —
the same determinism argument as plans/_util.dsum, kept in decimal across
merges instead of cast back per query).

Shape: building state from a batch is one map-side-combining groupBy;
merging k states is a unionByName + one groupBy — cost tracks the batch
and the touched key set, never the history. Land the state with
sources/writers.py:write_bucketed_table on the state keys and the merge's
exchange disappears on the state side (only the new batch shuffles); at
lakehouse scale the rewrite prunes to the buckets the batch touches.

Readout (counts/sums/averages in user-facing types) happens at query time
via :func:`readout`; the state itself never leaves decimal/long.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: exact accumulator type for double measures (mirrors plans/_util.DEC).
_DEC = "decimal(28,6)"
_CNT = "__n"


def agg_state(
    df: DataFrame, keys: Sequence[str], sums: Mapping[str, str]
) -> DataFrame:
    """Partial-aggregate state of ``df``: per ``keys`` group, a row count
    (``__n``) and an exact decimal sum per ``sums`` entry (out-name →
    source column)."""
    aggs = [F.count(F.lit(1)).alias(_CNT)] + [
        F.sum(F.col(src).cast(_DEC)).alias(out) for out, src in sums.items()
    ]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_states(
    states: Sequence[DataFrame], keys: Sequence[str], sums: Mapping[str, str]
) -> DataFrame:
    """Fold partial states into one: union + re-sum. Associative and
    commutative (decimal addition), so any merge tree gives the same state
    — batches can land out of order, retries can re-merge idempotently at
    the orchestration layer (replace, not add, a batch's state)."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum(_CNT).alias(_CNT),
        *[F.sum(F.col(out)).alias(out) for out in sums],
    )


def readout(
    state: DataFrame,
    keys: Sequence[str],
    sums: Mapping[str, str],
    count_as: str = "n_rows",
) -> DataFrame:
    """User-facing view of a state table: count as bigint, sums as double
    (the same decimal→double convention as plans/_util.dsum)."""
    return state.select(
        *[F.col(k) for k in keys],
        F.col(_CNT).cast("bigint").alias(count_as),
        *[F.col(out).cast("double").alias(out) for out in sums],
    )
