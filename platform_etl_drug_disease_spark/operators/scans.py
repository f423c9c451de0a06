"""Two-phase ordered-scan primitives.

A running-frame window partitioned by a low-cardinality key over an
unaggregated table is a 100-TB serialization point: `sum(x) OVER
(PARTITION BY lang ORDER BY doc_id)` funnels the entire corpus through
~|langs| reducers, each doing a single-core sort + prefix scan. Prefix
sums and lags are inherently sequential *per key*, but not per row — the
classic fix is a two-phase scan:

  phase 1  deterministic, order-preserving range buckets on the order
           column (floor((x - lo) / width)); per-(key, bucket) local
           window — shuffle-key cardinality |keys|×n_buckets, which the
           caller scales with the cluster;
  phase 2  a tiny per-(key, bucket) aggregate (|keys|×n_buckets rows)
           yields cross-bucket carry values (prefix offsets / previous
           bucket's last element), broadcast back and merged.

Output is bit-identical to the single-window form (exact integer
arithmetic; buckets partition the order domain monotonically), so DuckDB
oracles written against the naive window stay green.

Buckets are computed from the data's own min/max (one 1-row driver
aggregate — a bounded artifact, same class as the repo's other 1-row
collects), NOT from `spark_partition_id()` after `repartitionByRange`:
range-partitioner sample boundaries are not stable across the two passes,
so pid-keyed offsets could silently mismatch on recompute; a value-derived
bucket id is deterministic by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_buckets(df: DataFrame, order_col: str, n_buckets: int) -> DataFrame:
    """Attach a deterministic, monotone-in-`order_col` bucket id `__bkt`.

    Lazy by construction: the bucket bounds are a broadcast 1-row
    aggregate JOINED into the plan (scalar-subquery shape), not a driver
    `.first()` — merely BUILDING a query that uses these primitives must
    never execute the upstream pipeline (plan inspection, lint, and bench
    construction stay free; the bounds scan runs with the job itself).
    All-null or empty `order_col` degenerates to one bucket via the
    coalesce. `order_col` must be numeric (cast timestamps with
    unix_micros first)."""
    bounds = df.select(
        F.min(F.col(order_col)).cast("long").alias("__lo"),
        F.max(F.col(order_col)).cast("long").alias("__hi"),
    )
    width = F.greatest(
        F.lit(1),
        F.ceil((F.col("__hi") - F.col("__lo") + F.lit(1)) / F.lit(n_buckets)),
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            "__bkt",
            F.coalesce(
                F.floor((F.col(order_col) - F.col("__lo")) / width), F.lit(0)
            ),
        )
        .drop("__lo", "__hi")
    )


def keyed_running_sum(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    out_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """`sum(value) OVER (PARTITION BY keys ORDER BY order ROWS UNBOUNDED
    PRECEDING)` as a two-phase scan. Requires `order_col` unique per key
    (it is the sort key; ties would make any engine's running sum
    order-dependent) and numeric.

    The input is scanned twice (local window + per-bucket totals); pass a
    pruned/persisted projection if upstream columns are expensive to
    recompute."""
    bdf = _order_buckets(df, order_col, n_buckets)
    local_w = (
        Window.partitionBy(*keys, "__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bdf.withColumn("__local", F.sum(value_col).over(local_w))
    totals = bdf.groupBy(*keys, "__bkt").agg(F.sum(value_col).alias("__tot"))
    off_w = (
        Window.partitionBy(*keys)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys,
        "__bkt",
        F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), [*keys, "__bkt"])
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__bkt", "__local", "__off")
    )


def keyed_lag_delta(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """The multiset of `order - lag(order) OVER (PARTITION BY keys ORDER BY
    order)` deltas (nulls dropped) as a two-phase scan: local lags inside
    each order-range bucket, plus one boundary delta per adjacent pair of
    non-empty buckets computed from a tiny per-bucket first/last aggregate.

    Ties in `order_col` are fine — equal values give the same delta
    multiset under any tie order. Returns `keys + [gap]`."""
    bdf = _order_buckets(df, order_col, n_buckets)
    local_w = Window.partitionBy(*keys, "__bkt").orderBy(order_col)
    local = (
        bdf.select(
            *keys,
            (F.col(order_col) - F.lag(order_col, 1).over(local_w)).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    ends = bdf.groupBy(*keys, "__bkt").agg(
        F.min(order_col).alias("__first"), F.max(order_col).alias("__last")
    )
    bw = Window.partitionBy(*keys).orderBy("__bkt")
    boundary = (
        ends.select(
            *keys,
            (F.col("__first") - F.lag("__last", 1).over(bw)).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    return local.unionByName(boundary)


def bounded_top_k_rows(
    df: DataFrame,
    keys: list[str],
    sort_cols: list[Column],
    k: int,
    n_buckets: int = 32,
) -> DataFrame:
    """First k FULL ROWS per key under lexicographic ascending order of
    `sort_cols` — the scale-safe replacement for `row_number() OVER
    (PARTITION BY key ORDER BY ...) <= k`, which sorts each key's entire
    row set on a single reducer. Callers must make the sort key unique per
    row (append an id tiebreaker); descending components are expressed by
    negating the column.

    Two-phase: hash the sort key into `n_buckets` sub-groups, keep a sorted
    k-slice of (sort key, payload-struct) per (key, sub-group) — per-REDUCER
    state is one sub-bucket (rows/n_buckets expected), though the map-side
    partial collect_list before the slice is bounded by the task's rows for
    that sub-group, not by k — then merge the ≤ n_buckets×k survivors per
    key with one more bounded sort. Payload
    columns ride in a nested struct that lexicographic struct comparison
    never reaches (the sort key decides first), but they must still be
    orderable types (no maps)."""
    pack = F.struct(
        *[sc.alias(f"__s{i}") for i, sc in enumerate(sort_cols)],
        F.struct(*df.columns).alias("__row"),
    )
    sub = F.pmod(F.xxhash64(*sort_cols), F.lit(n_buckets))
    partial = (
        df.select(
            *[F.col(kc).alias(f"__k{i}") for i, kc in enumerate(keys)],
            sub.alias("__sub"),
            pack.alias("__p"),
        )
        .groupBy(*[f"__k{i}" for i in range(len(keys))], "__sub")
        .agg(F.slice(F.array_sort(F.collect_list("__p")), 1, k).alias("__top"))
    )
    merged = partial.groupBy(*[f"__k{i}" for i in range(len(keys))]).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__top"))), 1, k).alias(
            "__top"
        )
    )
    return merged.select(F.explode("__top").alias("__p")).select("__p.__row.*")


def bounded_min_k(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int,
    out_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Per-key smallest-k values as a sorted array, without a per-key global
    sort. `row_number() OVER (PARTITION BY key ORDER BY v) <= k` funnels
    every key's full value set through one reducer; but min-k is a
    mergeable aggregate, so: hash `value_col` into `n_buckets` sub-groups,
    take a bounded sorted top-k array per (key, sub-group), then merge the
    ≤ n_buckets×k survivors per key with one more bounded sort. Memory
    bound, precisely: the FIRST aggregate's map-side partial state is an
    uncapped collect_list per (key, sub-group) — bounded by that task's
    rows for the sub-group (expected rows/n_buckets under the hash), NOT by
    k; the slice to k happens at the final aggregation. Only the SECOND
    (merge) aggregate's inputs are genuinely k-capped arrays. Size
    n_buckets so rows-per-(key,sub-group,task) fits executor memory.

    Exact same result as the window form for distinct values; ties beyond
    position k resolve identically because the value itself is the sort key.
    """
    sub = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_buckets))
    partial = (
        df.withColumn("__sub", sub)
        .groupBy(*keys, "__sub")
        .agg(
            F.slice(F.array_sort(F.collect_list(value_col)), 1, k).alias("__mink")
        )
    )
    return partial.groupBy(*keys).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__mink"))), 1, k).alias(
            out_col
        )
    )


def value_histogram(df: DataFrame, keys: list[str], val: str) -> DataFrame:
    """Per-(keys, value) occurrence counts — the scale-safe substrate for
    exact order statistics. One map-side-combinable aggregate; cardinality
    is bounded by the value GRID per key (fixed-precision domains saturate
    while row counts keep growing), never by the row count itself.

    NULL values are dropped here (matching SQL quantile/median semantics,
    which ignore NULLs): a NULL bucket would otherwise count into
    ``quantiles_from_histogram``'s ``__n`` while Spark's NULLS-FIRST window
    ordering shifts every cumulative rank — and DuckDB oracles order NULLS
    LAST, so the two engines would silently diverge."""
    return (
        df.filter(F.col(val).isNotNull())
        .groupBy(*keys, val)
        .agg(F.count(F.lit(1)).alias("c"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    keys: list[str],
    val: str,
    ps: dict[str, float],
    mode: str = "disc",
) -> DataFrame:
    """Exact per-key quantiles by rank arithmetic over a value histogram
    (``value_histogram`` output) — the replacement for both the
    ``collect_list``-into-one-array form (per-group memory grows with the
    group) and the ``percent_rank`` window over raw rows (a per-key global
    sort when keys are low-cardinality; plan_lint rejects it).

    ``mode='disc'``: SQL ``quantile_disc`` — the element at 1-based position
    ``max(1, ceil(p·n))`` of the sorted values = the MIN value whose
    cumulative count reaches that position.
    ``mode='cont'``: SQL ``quantile_cont`` — linear interpolation at
    position ``(n−1)·p + 1``: ``v_lo + (v_hi − v_lo)·frac`` with
    ``lo = ⌊pos⌋``, ``hi = ⌈pos⌉``, ``frac = pos − lo`` — every step an
    IEEE double op, so any engine computing the same formula on the same
    histogram produces identical bits (p = 0.5 reduces to the familiar
    average-the-two-middles median).

    Returns one row per key group: ``keys + n + one column per ps label``.
    The cumulative window runs over the HISTOGRAM (an aggregate), so the
    plan is lint-clean for any key cardinality.

    Precondition: ``hist`` must carry no NULL ``val`` bucket — a NULL row
    would inflate ``__n`` and (under Spark's NULLS-FIRST ordering) shift
    every cumulative rank vs a NULLS-LAST oracle. ``value_histogram``
    guarantees this by filtering NULLs at the source."""
    if mode not in ("disc", "cont"):
        raise ValueError(f"mode must be 'disc' or 'cont', got {mode!r}")
    cum_w = (
        Window.partitionBy(*keys)
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    h = hist.withColumn("__cum", F.sum("c").over(cum_w))
    n = hist.groupBy(*keys).agg(F.sum("c").alias("__n"))
    h = h.join(F.broadcast(n), keys)
    aggs = [F.max("__n").alias("n")]
    for label, p in ps.items():
        if mode == "disc":
            pos = F.greatest(F.lit(1), F.ceil(F.col("__n") * F.lit(p)))
            aggs.append(
                F.min(F.when(F.col("__cum") >= pos, F.col(val))).alias(label)
            )
        else:
            pos = (F.col("__n") - 1) * F.lit(p) + F.lit(1.0)
            lo = F.floor(pos).cast("bigint")
            hi = F.ceil(pos).cast("bigint")
            vlo = F.min(F.when(F.col("__cum") >= lo, F.col(val)))
            vhi = F.min(F.when(F.col("__cum") >= hi, F.col(val)))
            frac = pos - F.floor(pos)
            aggs.append((vlo + (vhi - vlo) * F.max(frac)).alias(label))
    return h.groupBy(*keys).agg(*aggs)
